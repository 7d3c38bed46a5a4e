"""The benchmark workloads.

Each workload is a closed loop of rounds driven by one client thread:
a round is a fixed sequence of four ops, each op one public call into
the engine (``DeltaTable``, ``write_delta`` or ``delta_spark.ops``)
timed from call to return, including the action that materializes its
result. Inputs for every op are generated from the seed before the op's
clock starts. Each workload keeps its own expected answers, computed
without the engine, and checks every answer it can against them.

- ``cdc_merge``: rounds of change-data capture on a deletion-vector
  table: MERGE upsert, key-range DELETE, predicate UPDATE, full-table
  aggregate. The DML commands, the writer, the DV read path and the
  commit hooks do the work; an optimisation of planning or of the
  pipeline operators should not move it.
- ``curate_pipeline``: passes of the data-curation operators over two
  Delta tables: text stats + quality + fingerprint written to a new
  table, MinHash-LSH pairs, embedding near-duplicates, brute-force kNN.
  Executors, shuffles and Arrow stages do the work; the log and commits
  run once per pass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable, Optional

import numpy as np
import pandas as pd

import datagen

# rows per table at each scale; "tiny" is the self-test scale
SIZES = {
    "bench": {"orders": 20_000, "documents": 2_000, "embeddings": 2_000},
    "tiny": {"orders": 1_500, "documents": 300, "embeddings": 300},
}
# a round makes three commits, so with an interval of three every
# round's UPDATE writes a checkpoint and all rounds do the same work
CHECKPOINT_INTERVAL = 3
ORDERS_FILES = 8


@dataclass
class Op:
    """One timed public call. ``run`` returns the answer; ``check``
    (untimed) returns an error message, or None when it is right."""
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], Optional[str]] = lambda out: None
    layer: Optional[tuple[str, str]] = None  # ops-layer span, if any


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, scale: str):
        self.spark = spark
        self.seed = seed
        self.sizes = SIZES[scale]
        # rows the generator inserted, changed or deleted (cdc_merge) or
        # curated rows written (curate_pipeline); zeroed before measuring
        self.changed_rows = 0

    def build(self, path: str) -> None:
        """Write the fixture tables under ``path`` (timed as set-up)."""
        raise NotImplementedError

    def use(self, path: str) -> None:
        """Run the rounds against the fixture built at ``path``."""
        raise NotImplementedError

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def final_check(self) -> Optional[str]:
        """End-of-run check through a fresh log; an error or None."""
        raise NotImplementedError

    def tables(self) -> list[str]:
        """Table directories the workload reads and writes."""
        raise NotImplementedError

    def table_bytes(self) -> int:
        return sum(dir_bytes(t) for t in self.tables())

    def live_rows(self) -> int:
        raise NotImplementedError

    def stamp(self) -> dict:
        return {"input_rows": dict(self.sizes)}


# ------------------------------------------------------------ cdc_merge

def orders_checksum(pdf: pd.DataFrame) -> tuple:
    """The aggregate the scan op asks for, computed with numpy:
    (rows, Σkey, Σcents, Σcustkey, Σdays since 1992, Σstatus code)."""
    days = ((pdf["o_orderdate"].to_numpy().astype("datetime64[us]")
             - datagen.EPOCH_1992) // np.timedelta64(1, "D")).astype(np.int64)
    cents = np.trunc(pdf["o_totalprice"].to_numpy() * 100).astype(np.int64)
    status = np.array([ord(s) for s in pdf["o_orderstatus"]], dtype=np.int64)
    return (len(pdf), int(pdf["o_orderkey"].sum()), int(cents.sum()),
            int(pdf["o_custkey"].sum()), int(days.sum()), int(status.sum()))


CHECKSUM_SQL = [
    "count(*)", "sum(o_orderkey)", "sum(CAST(o_totalprice * 100 AS BIGINT))",
    "sum(o_custkey)", "sum(datediff(o_orderdate, DATE'1992-01-01'))",
    "sum(ascii(o_orderstatus))",
]


class CdcMerge(Workload):
    name = "cdc_merge"
    kinds = ("merge", "delete", "update", "scan")

    def build(self, path: str) -> None:
        from delta_spark import write_delta

        df = self.spark.createDataFrame(
            datagen.orders(self.seed, self.sizes["orders"]))
        write_delta(df.repartitionByRange(ORDERS_FILES, "o_orderkey"), path,
                    configuration={
                        "delta.enableDeletionVectors": "true",
                        "delta.checkpointInterval": str(CHECKPOINT_INTERVAL)})

    def use(self, path: str) -> None:
        from delta_spark import DeltaTable

        self.path = path
        self.table = DeltaTable.forPath(self.spark, path)
        self.ref = datagen.orders(self.seed, self.sizes["orders"]) \
            .set_index("o_orderkey", drop=False)
        self.next_key = len(self.ref)

    def tables(self) -> list[str]:
        return [self.path]

    def live_rows(self) -> int:
        return len(self.ref)

    def stamp(self) -> dict:
        return {**super().stamp(), "orders_files": ORDERS_FILES,
                "checkpoint_interval": CHECKPOINT_INTERVAL}

    def _batch(self, rng: np.random.Generator) -> pd.DataFrame:
        """~5% of live keys with new values, plus ~1% new keys."""
        n = len(self.ref)
        keys = rng.choice(self.ref.index.to_numpy(), max(1, n // 20),
                          replace=False)
        n_new = max(1, n // 100)
        fresh = datagen.orders(int(rng.integers(1 << 30)), len(keys) + n_new)
        fresh["o_orderkey"] = np.concatenate(
            [keys, np.arange(self.next_key, self.next_key + n_new)])
        self.next_key += n_new
        return fresh

    def round(self, r: int) -> list[Op]:
        rng = datagen.rng_for(self.seed, f"cdc{r}")
        batch = self._batch(rng)
        src = self.spark.createDataFrame(batch)
        lo = int(rng.integers(0, max(1, self.next_key - len(self.ref) // 100)))
        hi = lo + max(1, len(self.ref) // 100)
        mod, rem = 13, int(rng.integers(0, 13))
        prio = str(datagen.PRIORITIES[rng.integers(0, 5)])
        t = self.table

        def merge():
            (t.merge(src, "target.o_orderkey = source.o_orderkey")
             .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
            ref = batch.set_index("o_orderkey", drop=False)
            self.ref = pd.concat([self.ref.drop(ref.index, errors="ignore"),
                                  ref])
            self.changed_rows += len(ref)

        def delete():
            t.delete(f"o_orderkey >= {lo} AND o_orderkey < {hi}")
            gone = (self.ref.index >= lo) & (self.ref.index < hi)
            self.changed_rows += int(gone.sum())
            self.ref = self.ref[~gone]

        def update():
            t.update(f"o_custkey % {mod} = {rem} AND "
                     f"o_orderpriority = '{prio}'",
                     {"o_totalprice": "o_totalprice + 1.25"})
            hit = ((self.ref["o_custkey"] % mod == rem)
                   & (self.ref["o_orderpriority"] == prio))
            self.ref.loc[hit, "o_totalprice"] += 1.25
            self.changed_rows += int(hit.sum())

        def scan():
            row = t.toDF().selectExpr(*CHECKSUM_SQL).collect()[0]
            return tuple(int(v or 0) for v in row)

        def check_scan(got):
            want = orders_checksum(self.ref)
            return None if got == want else f"scan {got} != {want}"

        return [Op("merge", merge), Op("delete", delete),
                Op("update", update), Op("scan", scan, check_scan)]

    def final_check(self) -> Optional[str]:
        from delta_spark import DeltaLog, DeltaTable

        # a fresh session's view: replay the log from its checkpoint
        DeltaLog.clear_cache()
        row = DeltaTable.forPath(self.spark, self.path).toDF() \
            .selectExpr(*CHECKSUM_SQL).collect()[0]
        got = tuple(int(v or 0) for v in row)
        want = orders_checksum(self.ref)
        return None if got == want else f"final table {got} != {want}"


# ------------------------------------------------------- curate_pipeline

KNN_QUERIES = 20
KNN_K = 10
QUALITY_MIN = 0.5


class CuratePipeline(Workload):
    name = "curate_pipeline"
    kinds = ("curate", "minhash", "near_dups", "knn")

    def build(self, path: str) -> None:
        from delta_spark import write_delta

        write_delta(self.spark.createDataFrame(
            datagen.documents(self.seed, self.sizes["documents"])),
            os.path.join(path, "documents"))
        write_delta(self.spark.createDataFrame(
            datagen.embeddings(self.seed, self.sizes["embeddings"])),
            os.path.join(path, "embeddings"))

    def use(self, path: str) -> None:
        self.path = path
        self.expected: dict[str, Any] = {}
        self.curated: list[str] = []
        self.curated_rows = 0
        rng = datagen.rng_for(self.seed, "knn")
        self.query_ids = sorted(int(i) for i in rng.choice(
            self.sizes["embeddings"], KNN_QUERIES, replace=False))

    def tables(self) -> list[str]:
        return [os.path.join(self.path, "documents"),
                os.path.join(self.path, "embeddings")] + self.curated

    def live_rows(self) -> int:
        return (self.sizes["documents"] + self.sizes["embeddings"]
                + self.curated_rows)

    def stamp(self) -> dict:
        return {**super().stamp(), "knn_queries": KNN_QUERIES,
                "knn_k": KNN_K, "quality_min": QUALITY_MIN}

    def final_check(self) -> Optional[str]:
        from delta_spark import DeltaLog, DeltaTable

        DeltaLog.clear_cache()
        got = [DeltaTable.forPath(self.spark, t).toDF().count()
               for t in self.tables()[:2]]
        want = [self.sizes["documents"], self.sizes["embeddings"]]
        return None if got == want else f"input tables {got} != {want}"

    def _same_as_first(self, kind: str, got) -> Optional[str]:
        want = self.expected.setdefault(kind, got)
        return None if got == want else f"{kind} {got} != first pass {want}"

    def round(self, r: int) -> list[Op]:
        from pyspark.sql import functions as F

        from delta_spark import DeltaTable, write_delta
        from delta_spark.ops import (cache, fingerprint, knn_brute_force,
                                     minhash_lsh_pairs, quality_score,
                                     text_stats)
        from delta_spark.ops.similarity import near_duplicates

        spark = self.spark
        docs_path = os.path.join(self.path, "documents")
        emb_path = os.path.join(self.path, "embeddings")
        out = os.path.join(self.path, f"curated_{r}")

        def curate():
            docs = DeltaTable.forPath(spark, docs_path).toDF()
            cur = fingerprint(quality_score(text_stats(docs)))
            write_delta(cur.filter(F.col("quality") >= QUALITY_MIN), out)
            self.curated.append(out)

        def check_curate(_):
            n = DeltaTable.forPath(spark, out).toDF().count()
            self.curated_rows += n
            self.changed_rows += n
            return self._same_as_first("curate", n)

        def minhash():
            pairs = minhash_lsh_pairs(
                DeltaTable.forPath(spark, docs_path).toDF())
            try:
                return pairs.count()
            finally:
                cache.release(pairs)

        def near_dups():
            emb = DeltaTable.forPath(spark, emb_path).toDF()
            return near_duplicates(emb, threshold=0.95, method="lsh").count()

        def knn():
            emb = DeltaTable.forPath(spark, emb_path).toDF()
            queries = (emb.filter(F.col("vec_id").isin(self.query_ids))
                       .withColumnRenamed("vec_id", "query_id"))
            row = (knn_brute_force(emb, queries, k=KNN_K)
                   .agg(F.count("*"), F.sum("vec_id")).collect()[0])
            return (int(row[0]), int(row[1] or 0))

        def check_knn(got):
            # k neighbours for each query
            if got[0] != KNN_QUERIES * KNN_K:
                return f"knn returned {got[0]} rows"
            return self._same_as_first("knn", got)

        return [
            Op("curate", curate, check_curate, ("ops", "text")),
            Op("minhash", minhash,
               lambda n: self._same_as_first("minhash", n),
               ("ops", "minhash")),
            Op("near_dups", near_dups,
               lambda n: self._same_as_first("near_dups", n),
               ("ops", "near_dups")),
            Op("knn", knn, check_knn, ("ops", "knn")),
        ]


WORKLOADS = {w.name: w for w in (CdcMerge, CuratePipeline)}
