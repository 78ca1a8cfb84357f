"""Partitioned Bloom filter over SHA1(canonical URL) — the URL-seen
pre-screen (north_rule).

The reference answers "have we seen this URL?" with a per-row HBase
point-get (``DbUpdateReducer.java:98``, ``TaskScheduler.java:891``).
Distributed Spark must never do per-row point lookups; membership is a
set operation. Ground truth stays updatedb's semi-join of the frontier
(``store/frontier.py``) against the round's link targets; this Bloom
filter is the cheap pre-screen that keeps definitely-new targets off
that join's broadcast side.

Layout: P partitions by pmod(xxhash64(url_hash), P); one bitmap file
per partition (``pid=N.npy``) + a JSON manifest with lineage (rounds
applied, item counts). Bitmaps are built executor-side via
``applyInPandas`` over the partition id (one group = one bitmap) and
checked via ``mapInPandas`` that lazily loads only the bitmaps the
batch needs. All probe math is vectorized numpy over two 64-bit hash
columns computed JVM-side with ``xxhash64`` (double hashing
h1 + i*h2 mod m) — no per-row Python hashing.

Checkpoint/restore = the directory itself; each ``merge_round`` writes
a new manifest version, so a killed job resumes from the last manifest
(per-partition lineage, north_rule).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _params(capacity: int, fp_rate: float) -> tuple[int, int]:
    m = int(math.ceil(-capacity * math.log(fp_rate) / (math.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)
    k = max(1, round(m / capacity * math.log(2)))
    return m, k


def _probe_cols(df: DataFrame, key: str, partitions: int) -> DataFrame:
    return (
        df.withColumn("pid", F.pmod(F.xxhash64(F.col(key)), F.lit(partitions)).cast("int"))
        .withColumn("h1", F.xxhash64(F.col(key), F.lit("b1")))
        .withColumn("h2", F.xxhash64(F.col(key), F.lit("b2")))
    )


def _indices(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) probe indices via double hashing (Kirsch–Mitzenmacher)."""
    u1 = h1.astype(np.uint64)
    u2 = h2.astype(np.uint64) | np.uint64(1)  # force odd step
    i = np.arange(k, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        return ((u1[:, None] + i * u2[:, None]) % np.uint64(m)).astype(np.int64)


def _bitmap_file(path: str, pid: int) -> str:
    """The packed bitmap of partition ``pid`` under the filter's dir."""
    return os.path.join(path, f"pid={pid}.npy")


class BloomUrlSeen:
    def __init__(
        self,
        path: str,
        partitions: int = 32,
        capacity_per_partition: int = 1_000_000,
        fp_rate: float = 0.01,
    ):
        self.path = path
        self.partitions = partitions
        self.m, self.k = _params(capacity_per_partition, fp_rate)
        os.makedirs(path, exist_ok=True)

    # -- manifest / lineage -------------------------------------------
    @property
    def manifest_file(self) -> str:
        return os.path.join(self.path, "_MANIFEST.json")

    def manifest(self) -> dict:
        try:
            with open(self.manifest_file) as f:
                return json.load(f)
        except FileNotFoundError:
            return {
                "partitions": self.partitions,
                "m": self.m,
                "k": self.k,
                "rounds": [],
                "items": 0,
            }

    # -- build / merge ---------------------------------------------------
    def merge_round(self, df: DataFrame, key: str, batch_id: str) -> None:
        """OR the keys of ``df`` into the per-partition bitmaps.

        Executors each build the delta bitmap for one pid group; the
        OR-merge with the existing on-disk bitmap also happens in the
        executor task (the driver never holds bitmaps). The bits are
        idempotent but the manifest's round list and ``items`` count
        are not, so a batch_id the manifest already lists is a no-op
        (a resumed round replaying its merge). A caller that merges new
        keys under a reused name (a second inject) must make the id
        unique, e.g. by the store version it committed."""
        if any(r.get("batch_id") == batch_id for r in self.manifest()["rounds"]):
            return  # resume replay: already applied
        path, m, k = self.path, self.m, self.k

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(pdf["pid"].iloc[0])
            idx = _indices(pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), k, m)
            bits = np.zeros(m, dtype=bool)
            bits[idx.ravel()] = True
            packed = np.packbits(bits)
            f = _bitmap_file(path, pid)
            if os.path.exists(f):
                packed |= np.load(f)  # OR in packed form, no unpack
            tmp = f"{f}.{os.getpid()}.tmp.npy"
            np.save(tmp, packed)
            os.replace(tmp, f)
            return pd.DataFrame({"pid": [pid], "n": [len(pdf)]})

        probes = _probe_cols(df.select(key), key, self.partitions)
        counts = (
            probes.select("pid", "h1", "h2")
            .groupBy("pid")
            .applyInPandas(build, schema="pid int, n long")
            .collect()
        )
        man = self.manifest()
        man["rounds"].append({"batch_id": batch_id, "added": sum(r["n"] for r in counts)})
        man["items"] = man.get("items", 0) + sum(r["n"] for r in counts)
        tmp = self.manifest_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=2)
        os.replace(tmp, self.manifest_file)

    # -- membership pre-screen --------------------------------------------
    def maybe_seen(self, df: DataFrame, key: str) -> DataFrame:
        """Adds boolean ``maybe_seen``: False -> definitely new (safe to
        skip the exact check for), True -> possibly seen (needs the exact
        check). No bitmaps loaded on the driver."""
        path, m, k, parts = self.path, self.m, self.k, self.partitions

        def lookup(batches):
            # one task == one pid (repartitioned below): a single
            # bitmap load per task, kept PACKED — probe via bit ops,
            # never np.unpackbits (19M-bool expansion per load was the
            # dominant updatedb cost before this)
            cache: dict[int, np.ndarray | None] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf.assign(maybe_seen=pd.Series([], dtype=bool))
                    continue
                out = np.zeros(len(pdf), dtype=bool)
                pids = pdf["pid"].to_numpy()
                h1 = pdf["h1"].to_numpy()
                h2 = pdf["h2"].to_numpy()
                for pid in np.unique(pids):
                    p = int(pid)
                    if p not in cache:
                        f = _bitmap_file(path, p)
                        cache[p] = np.load(f) if os.path.exists(f) else None
                    packed = cache[p]
                    sel = pids == pid
                    if packed is None:
                        continue  # empty filter -> definitely unseen
                    idx = _indices(h1[sel], h2[sel], k, m)
                    bits = (packed[idx >> 3] >> (7 - (idx & 7))) & 1
                    out[sel] = bits.all(axis=1).astype(bool)
                yield pdf.assign(maybe_seen=out)

        probed = _probe_cols(df, key, parts)
        probed = probed.repartition(parts, F.col("pid"))
        schema = T.StructType(
            probed.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
        )
        return (
            probed.mapInPandas(lookup, schema=schema)
            .drop("pid", "h1", "h2")
        )
