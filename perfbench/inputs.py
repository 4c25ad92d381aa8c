"""Seeded benchmark inputs. The same seed always writes the same rows.

The transcript table comes from the engine's own generator (it is the
paper's input format and ``transcripts.generate_s`` is a layer metric);
the copurchase orders and the dedup corpus are drawn with numpy, so nothing
engine-side shapes them. Every table is written through Spark's parquet
writer: the first preparation of a run then carries the Spark JVM's
first-query warm-up, as the transcript generator does, instead of the
first timed call.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Sizes are chosen so one run of every workload (a fresh Spark JVM, set-up,
# one pass of the timed calls, the checks) fits in well under a minute on a
# 4-core box: at these sizes per-job overhead, not data volume, dominates,
# which is the regime the engine's setup and plan-build layers live in.
N_CONVS = 2000  # ~42k turns, ~24k symmetric edges, 3 hub vertices
N_ORDERS = 5000  # 1-7 items each: ~79k symmetric edges, hub-free
N_PARTS = 1500
N_DOCS = 400
DOC_VOCAB = 400


def write_transcripts(spark, path: str, seed: int) -> None:
    from graphulo_spark.transcripts import generate_transcripts

    generate_transcripts(spark, N_CONVS, seed=seed).write.mode("overwrite").parquet(path)


def _write(spark, columns: dict, path: str) -> None:
    spark.createDataFrame(pd.DataFrame(columns)).write.mode("overwrite").parquet(path)


def write_lineitem(spark, sf_dir: str, seed: int) -> None:
    """``lineitem.parquet`` with the two columns ``entry.copurchase_edges``
    reads. Part ids are a seeded bijection onto sparse 40-bit ids, so vertex
    ids carry no order the engine could exploit."""
    rng = np.random.default_rng([seed, 1])
    ids = np.unique(rng.integers(1, 1 << 40, size=2 * N_PARTS))
    ids = rng.permutation(ids)[:N_PARTS]
    items = rng.integers(1, 8, size=N_ORDERS)
    orderkey = np.repeat(np.arange(1, N_ORDERS + 1, dtype=np.int64), items)
    partkey = ids[rng.integers(0, N_PARTS, size=orderkey.size)]
    _write(spark, {"l_orderkey": orderkey, "l_partkey": partkey}, f"{sf_dir}/lineitem.parquet")


def write_documents(spark, path: str, seed: int) -> None:
    """A corpus with exact copies (~12%), near copies with 1-3 substituted
    tokens (~18%, n-gram Jaccard around the 0.8 verification threshold, so
    LSH proposes pairs that verification both keeps and rejects) and
    unrelated documents."""
    rng = np.random.default_rng([seed, 2])
    docs: list[list[str]] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i and r < 0.12:
            toks = list(docs[int(rng.integers(0, i))])
        elif i and r < 0.30:
            toks = list(docs[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = f"w{int(rng.integers(0, DOC_VOCAB))}"
        else:
            toks = [f"w{int(t)}" for t in rng.integers(0, DOC_VOCAB, size=int(rng.integers(20, 41)))]
        docs.append(toks)
    _write(spark, {"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": [" ".join(t) for t in docs]}, path)
