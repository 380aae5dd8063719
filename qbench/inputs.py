"""Deterministic benchmark inputs and their expected outputs.

Run as a script, it writes one workload's inputs for one seed into a cache
directory, together with ``expect.json`` (the output checks' expected
values). The benchmark runs it in a child process before its clock starts,
so neither input generation nor the oracle counts toward any timing, and
the measured process imports the program only inside its set-up window.

    python3 qbench/inputs.py --workload label_mixed --seed 1 --out DIR

The seed changes content only. Every shape parameter below is fixed: the
turn count (synth's 400-turn hot conversation included), the row-group
size, the table sizes and the documents' near- and exact-duplicate shares.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

# bump when any generated content or expectation changes: cache keys carry it
GEN_VERSION = 2

# label_mixed: synth.generate's default mix (its 400-turn hot conversation
# first), cut to exactly LABEL_TURNS turns so every seed does the same
# amount of work
LABEL_CONVS = 620
LABEL_TURNS = 6000
LABEL_ROW_GROUP = 10_000

# query_sweep tables: shaped and sized like the sf0.01 test tables that
# the gate sample reads (documents 500, events 10k, embeddings 500)
N_DOCS = 500
N_EVENTS = 10_000
N_USERS = 150
N_VECS = 500
EMB_DIM = 64
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
NEAR_DUP_SHARE = 0.05  # earlier document's text + " dup"
EXACT_DUP_SHARE = 0.01  # verbatim copy of an earlier document
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def transcript_digest(conv_ids, turn_idxs, keeps, scrubbed) -> str:
    """sha256 over (conv_id, turn_idx, keep, scrubbed_text) rows, which the
    caller passes sorted by (conv_id, turn_idx)."""
    h = hashlib.sha256()
    for c, t, k, s in zip(conv_ids, turn_idxs, keeps, scrubbed):
        h.update(f"{c}\x1f{int(t)}\x1f{int(bool(k))}\x1f".encode())
        h.update(b"\x00" if s is None else s.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return h.hexdigest()


def rule_counts(rule_hits) -> dict[str, int]:
    counts: dict[str, int] = {}
    for hits in rule_hits:
        for name in hits:
            counts[name] = counts.get(name, 0) + 1
    return dict(sorted(counts.items()))


def _transcript_schema():
    import pyarrow as pa

    return pa.schema([
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ])


def make_label_mixed(seed: int, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oracle import oracle
    from qamd_spark import synth
    from qamd_spark.config import QamdConfig

    path = os.path.join(out, "transcripts.parquet")
    pdf = synth.generate(n_convs=LABEL_CONVS, seed=seed).head(LABEL_TURNS)
    if len(pdf) != LABEL_TURNS:
        raise ValueError(f"synth gave {len(pdf)} turns, fewer than {LABEL_TURNS}")
    # synth.write_parquet's schema, on the cut table
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=_transcript_schema(), preserve_index=False),
        path, row_group_size=LABEL_ROW_GROUP,
    )
    lab = (
        oracle.label_pdf(pdf, QamdConfig())
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    return {
        "turns": len(pdf),
        "chars": int(pdf["text"].fillna("").str.len().sum()),
        "bytes_in": os.path.getsize(path),
        "keep": int(lab["keep"].sum()),
        "rule_hits": rule_counts(lab["rule_hits"]),
        "digest": transcript_digest(
            lab["conv_id"], lab["turn_idx"], lab["keep"], lab["scrubbed_text"]
        ),
    }


def _documents(rng):
    import numpy as np
    import pandas as pd

    n_words = rng.integers(10, 101, N_DOCS)
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    kind = rng.random(N_DOCS)
    src = rng.integers(0, np.maximum(np.arange(N_DOCS), 1))
    for i in range(1, N_DOCS):
        if kind[i] < EXACT_DUP_SHARE:
            texts[i] = texts[src[i]]
        elif kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts[i] = texts[src[i]] + " dup"
    langs, probs = zip(*DOC_LANGS)
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(langs, N_DOCS, p=probs),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(rng):
    import numpy as np
    import pandas as pd

    gaps_us = np.maximum(rng.exponential(26.0, N_EVENTS) * 1e6, 1).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    return pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def _embeddings(rng):
    import numpy as np
    import pandas as pd

    v = rng.standard_normal((N_VECS, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })


def make_query_sweep(seed: int, out: str) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    rows = {}
    for name, make in (("documents", _documents), ("events", _events),
                       ("embeddings", _embeddings)):
        pdf = make(rng)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(out, f"{name}.parquet"),
        )
        rows[name] = len(pdf)
    return {"table_rows": rows}


MAKERS = {"label_mixed": make_label_mixed, "query_sweep": make_query_sweep}


def cache_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, f"{workload}-g{GEN_VERSION}-s{seed}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MAKERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tmp = args.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # a stale half-written attempt
    os.makedirs(tmp)
    expect = MAKERS[args.workload](args.seed, tmp)
    with open(os.path.join(tmp, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    os.replace(tmp, args.out)  # publish only complete inputs
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
