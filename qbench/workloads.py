"""The benchmark's workloads: one timed pass each, through the same public
calls the CLI makes, plus the output checks that run between passes.

A workload object owns one long-lived Spark session. ``setup()`` imports
the program and starts the session; ``run_pass(tag)`` is what the clock
times; ``check(tag)`` runs outside the clock and returns the list of failed
operations (empty when all is well).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import shutil
import time

import inputs

# the correctness gate samples the first GATE_SAMPLE names in registry order;
# query_sweep times every QUERY_STRIDE-th of them (see README.md)
GATE_SAMPLE = 50
QUERY_STRIDE = 10


class Spans:
    """Layer spans recorded from outside the program: wrap a module's public
    function so each call records (name, start, end, parent)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)
        self._undo.append((module, attr, fn))

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._undo):
            setattr(module, attr, fn)
        self._undo.clear()

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        out: dict[str, float] = {}
        recs = self.spans[since:]
        for i, r in enumerate(recs, start=since):
            child = sum(c["end"] - c["start"] for c in recs if c["parent"] == i)
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - child
        return out


class Workload:
    name = ""
    spark = None
    min_passes = 1  # timed passes at least, however long they take

    def __init__(self, data: str, expect: dict, work: str, conf: dict, nproc: int):
        self.data, self.expect = data, expect
        self.work, self.conf, self.nproc = work, conf, nproc
        self.spans: Spans | None = None  # set for the traced pass only

    def start_session(self) -> None:
        from qamd_spark import session

        t = time.perf_counter()
        self.spark = session.get_spark(
            f"qbench.{self.name}", master=f"local[{self.nproc}]", extra=self.conf
        )
        self.session_start_s = time.perf_counter() - t

    def gc(self) -> None:
        if self.spark is not None:
            self.spark.sparkContext._jvm.System.gc()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def ops_per_pass(self) -> int:
        return 1

    def close(self) -> None:
        """Stop the session, then end the JVM and wait for it and for the
        Python workers it started: the JVM exits when its stdin closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from run import proc_tree

        jvm = SparkContext._gateway.proc
        workers = proc_tree(jvm.pid)[1:]
        self.spark.stop()
        self.spark = None
        jvm.stdin.close()
        jvm.wait(timeout=60)
        deadline = time.monotonic() + 30
        while any(map(_running, workers)):
            if time.monotonic() > deadline:
                raise RuntimeError(f"Python workers {workers} outlived the JVM")
            time.sleep(0.1)

    def _span(self, name: str, **attrs):
        if self.spans is None:
            return contextlib.nullcontext()
        return self.spans.span(name, **attrs)


class LabelMixed(Workload):
    """A fresh checkpointed ``run`` exactly as ``main.py run`` does it:
    run_with_checkpoints, then lineage.per_bucket, report.metadata_stats and
    report.summary_json with locators."""

    name = "label_mixed"

    def setup(self) -> None:
        from qamd_spark import checkpoint, io, lineage, report  # noqa: F401
        from qamd_spark.config import QamdConfig

        self.cfg = QamdConfig()
        self.input = os.path.join(self.data, "transcripts.parquet")
        self.start_session()

    def units(self) -> int:
        return self.expect["turns"]

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.work, f"out-{tag}")

    def prepare(self, tag: str) -> None:
        shutil.rmtree(self.out_dir(tag), ignore_errors=True)

    def run_pass(self, tag: str) -> None:
        from qamd_spark import checkpoint, io, lineage, report

        spark, cfg, out = self.spark, self.cfg, self.out_dir(tag)
        checkpoint.run_with_checkpoints(spark, self.input, out, cfg)
        labeled = spark.read.parquet(out + "/data")
        with self._span("lineage.per_bucket"):
            lineage.per_bucket(labeled, cfg).write.mode("overwrite").parquet(
                out + "/lineage"
            )
        meta = {"input": self.input}
        meta.update(report.metadata_stats(io.read_table(spark, self.input)))
        summ = report.summary_json(labeled, cfg, meta, include_locators=True)
        with open(out + "/summary.json", "w") as f:
            f.write(summ)

    def check(self, tag: str) -> list[str]:
        import pyarrow.parquet as pq

        out = self.out_dir(tag)
        t = pq.read_table(
            out + "/data",
            columns=["conv_id", "turn_idx", "keep", "scrubbed_text", "rule_hits"],
        ).sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
        cols = {c: t.column(c).to_pylist() for c in t.column_names}
        got = {
            "turns": t.num_rows,
            "keep": sum(cols["keep"]),
            "rule_hits": inputs.rule_counts(cols["rule_hits"]),
            "digest": inputs.transcript_digest(
                cols["conv_id"], cols["turn_idx"], cols["keep"], cols["scrubbed_text"]
            ),
        }
        with open(out + "/summary.json") as f:
            got["summary_rows"] = json.load(f)["metadata"]["raw_case_count"]
        want = {k: self.expect[k] for k in ("turns", "keep", "rule_hits", "digest")}
        want["summary_rows"] = self.expect["turns"]
        bad = [f"{k} {got[k]!r} != {want[k]!r}" for k in want if got[k] != want[k]]
        if bad:  # one failed operation: the pass; its output stays for a look
            return [f"{tag}: " + "; ".join(bad)]
        shutil.rmtree(out)
        return []


class QuerySweep(Workload):
    """Every QUERY_STRIDE-th name of the correctness gate's sample (the first
    GATE_SAMPLE names of ``__spark_entry__.queries()``), each built and then
    ``collect()``ed over the generated tables."""

    name = "query_sweep"
    # the first sweep after the cold one can still run ~15% slow: the median
    # of three timed sweeps leaves it out
    min_passes = 3

    def setup(self) -> None:
        t = time.perf_counter()
        import __spark_entry__ as E

        self.import_s = time.perf_counter() - t
        self.E = E
        self.names = list(E.queries())[:GATE_SAMPLE:QUERY_STRIDE]
        self.results: dict[str, dict] = {}
        self.digests: dict[str, str] = {}
        self.start_session()

    def units(self) -> int:
        return self.rows_read

    def ops_per_pass(self) -> int:
        return len(self.names)

    @contextlib.contextmanager
    def count_reads(self):
        """Sum the rows of every table the queries open with
        ``spark.read.parquet`` (the units of ``turns_per_s`` here)."""
        from pyspark.sql.readwriter import DataFrameReader

        rows, real = self.expect["table_rows"], DataFrameReader.parquet
        self.rows_read = 0

        def parquet(reader, *paths, **kw):
            for p in paths:
                self.rows_read += rows.get(os.path.basename(str(p)).split(".")[0], 0)
            return real(reader, *paths, **kw)

        DataFrameReader.parquet = parquet
        try:
            yield
        finally:
            DataFrameReader.parquet = real

    def prepare(self, tag: str) -> None:
        self.results[tag] = {}

    def run_pass(self, tag: str) -> None:
        if tag == "warmup":
            with self.count_reads():
                return self._sweep(tag)
        return self._sweep(tag)

    def _sweep(self, tag: str) -> None:
        queries, res = self.E.queries(), self.results[tag]
        for name in self.names:
            try:
                with self._span("entry.query", query=name):
                    with self._span("entry.build"):
                        df = queries[name](self.spark, self.data)
                    if self.spans is not None:
                        with self._span("entry.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with self._span("entry.exec"):
                        res[name] = (df.columns, df.collect())
            except Exception as e:  # an operation failure, counted by check()
                res[name] = e

    def check(self, tag: str) -> list[str]:
        bad = []
        first = not self.digests
        oracles = self.E.oracle_sql() if first else {}
        con = None
        for name, got in self.results.pop(tag).items():
            if isinstance(got, Exception):
                bad.append(f"{tag}: {name} raised {type(got).__name__}: {got}")
                continue
            cols, rows = got
            digest = _rows_digest(rows)
            if first:
                self.digests[name] = digest
                if name in oracles:
                    if con is None:
                        con = self._duckdb()
                    why = _oracle_mismatch(cols, rows, con.sql(oracles[name]).df())
                    if why:
                        bad.append(f"{tag}: {name} != oracle ({why})")
                elif not cols:
                    bad.append(f"{tag}: {name} returned no columns")
            elif digest != self.digests.get(name):
                bad.append(f"{tag}: {name} differs from the checked first pass")
        return bad

    def _duckdb(self):
        import duckdb

        con = duckdb.connect()
        for t in self.expect["table_rows"]:
            path = os.path.join(self.data, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con


def _running(pid: int) -> bool:
    """Whether ``pid`` is a live process (not gone, not a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _rows_digest(rows) -> str:
    return hashlib.sha256(
        "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
    ).hexdigest()


def _norm(df):
    """The correctness gate's normalization: columns sorted, lists as tuples,
    rows sorted on every column."""
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def _same(a, b) -> bool:
    if a is b:
        return True
    try:
        if a == b:
            return True
    except (TypeError, ValueError):
        pass
    na = a is None or (isinstance(a, float) and math.isnan(a))
    nb = b is None or (isinstance(b, float) and math.isnan(b))
    return na and nb


def _oracle_mismatch(cols, rows, want) -> str | None:
    """Compare collected Spark rows with the DuckDB twin the way the
    correctness gate does: same columns and row count, floats bit-equal
    (NaN == NaN), everything else by equality. Returns why, or None."""
    import numpy as np
    import pandas as pd

    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
    got, want = _norm(got), _norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(got[c].dtype, np.floating):
            try:
                ok = bool(np.array_equal(a.astype(float), b.astype(float), equal_nan=True))
            except (TypeError, ValueError):
                ok = False
        else:
            ok = all(_same(x, y) for x, y in zip(a, b))
        if not ok:
            return f"column {c}"
    return None


WORKLOADS = {w.name: w for w in (LabelMixed, QuerySweep)}
