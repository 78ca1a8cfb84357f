"""Frontier storage: a single mutable keyed table (url_hash -> row),
the Spark analog of the reference's Gora/HBase web table
(``storage/StorageUtils.java``, upserts via GoraOutputFormat
``mapreduce/InjectJob.java:152-155``).

Two implementations behind one interface:

- :class:`ParquetFrontierStore` — **merge-on-read** over versioned
  parquet snapshots with an atomic version pointer and a lineage log
  per version. ``merge`` appends the update rows as a *delta*
  snapshot (cost O(updates), never O(frontier) — the r1 copy-on-write
  form rewrote the full table every round, the measured scale-killer).
  One resolver, ``_resolve``, reconstructs the table as

      base  ⟕anti  delta-keys   ∪   latest-version delta rows

  i.e. exactly Iceberg's equality-delete MOR scan: the anti-join
  against the (small) delta key set is a broadcast hash join while
  deltas are small, and AQE falls back to a shuffle join when they
  grow. ``read`` resolves every bucket, ``read_host`` one host bucket
  and ``compact`` the delta-touched buckets, each through that one
  resolver. When total delta rows exceed ``compact_ratio`` × base
  rows (or the delta count or broadcast gate is exceeded),
  ``compact()`` materializes the merged view as a new base — amortized
  O(frontier) every ~1/ratio rounds instead of every round.
  Snapshots are partitioned by ``host_bucket`` = pmod(xxhash64(host),
  K) so host-range scans prune partitions (the analog of the
  reversed-key range scan, ``CrawlFilters.java:147-175``). Every
  version is a resume point, and lineage records (op, batch_id) so a
  resumed round can skip an already-committed merge (idempotent
  updatedb).

- :class:`IcebergFrontierStore` — issues real ``MERGE INTO`` SQL
  against an Iceberg catalog (merge-on-read natively), for a
  production cluster. Requires the iceberg-spark-runtime jar; the
  parquet store above emulates its MOR semantics exactly, and a pytest
  asserts merge-output equality between the MOR read and a reference
  copy-on-write merge.

Scale note (100 TB / 10^10 rows): per-round write cost is O(updates);
per-read overhead is one anti-join whose build side is the delta key
set (≤ compact_ratio × base). At the reference's sizing (10^7 new
URLs/round against 10^10 stored) the delta keys broadcast and the MOR
read is within noise of a plain scan.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class FrontierStore:
    """Interface: read() -> DataFrame, merge(updates) -> new version."""

    def read(self) -> DataFrame:
        raise NotImplementedError

    def merge(self, updates: DataFrame, lineage: dict | None = None) -> int:
        raise NotImplementedError


class ParquetFrontierStore(FrontierStore):
    #: broadcast the delta key set into the base anti-join while it is
    #: small enough (keys are 8-byte hashes; 4M keys ~ tens of MB of
    #: build-side hash table). Above this, leave the strategy to AQE.
    BROADCAST_DELTA_KEYS_MAX = 4_000_000
    #: bound on delta snapshots between compactions, independent of the
    #: row ratio: every delta adds a scan + union branch to the MOR read
    #: plan, so a lax row ratio must not let the plan's delta fan-in
    #: grow without limit
    MAX_DELTA_SNAPSHOTS = 8

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        host_buckets: int = 64,
        compact_ratio: float = 4.0,
    ):
        self.spark = spark
        self.path = path
        self.host_buckets = host_buckets
        self.compact_ratio = compact_ratio
        os.makedirs(path, exist_ok=True)
        # the bucket count is part of the on-disk layout: reopening an
        # existing store with a different host_buckets would make
        # bucket-pruned reads and incremental compaction resolve against
        # the wrong partitions (silently dropping rows with bucket ids
        # >= the new count). Persist it on first open and hard-fail on
        # mismatch ever after.
        meta_file = os.path.join(path, "_STORE_META.json")
        if os.path.exists(meta_file):
            with open(meta_file) as f:
                meta = json.load(f)
            disk_buckets = int(meta.get("host_buckets", -1))
            if disk_buckets != host_buckets:
                raise ValueError(
                    f"frontier store at {path} was created with "
                    f"host_buckets={disk_buckets}; reopening with "
                    f"host_buckets={host_buckets} would corrupt bucket-"
                    f"pruned reads and compaction. Pass the original value."
                )
        else:
            with open(meta_file, "w") as f:
                json.dump(
                    {
                        "host_buckets": host_buckets,
                        "bucket_scheme": "pmod(xxhash64(host), host_buckets)",
                    },
                    f,
                )

    @classmethod
    def open(cls, spark: SparkSession, path: str):
        """Open an existing store adopting its recorded on-disk layout
        (pure readers — e.g. the REST /db endpoint — must not need to
        know the writer's host_buckets). Creates nothing on disk."""
        meta_file = os.path.join(path, "_STORE_META.json")
        if not os.path.exists(meta_file):
            raise FileNotFoundError(f"no frontier store at {path}")
        with open(meta_file) as f:
            meta = json.load(f)
        return cls(spark, path, int(meta["host_buckets"]))

    # -- version bookkeeping ------------------------------------------
    @property
    def _version_file(self) -> str:
        return os.path.join(self.path, "_VERSION")

    def current_version(self) -> int:
        try:
            with open(self._version_file) as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            return -1

    def _snapshot_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version:06d}")

    def _data_dir(self, version: int) -> str:
        return os.path.join(self._snapshot_dir(version), "data")

    def lineage(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self._snapshot_dir(v), "_LINEAGE.json")) as f:
            return json.load(f)

    def lineage_chain(self) -> list[dict]:
        """All committed lineages, oldest first."""
        return [self.lineage(v) for v in range(self.current_version() + 1)]

    def committed_ops(self) -> set[tuple[str, str | None]]:
        """(op, batch_id) pairs already committed — the idempotency
        check a resumed round uses to skip a re-merge."""
        return {(ln.get("op"), ln.get("batch_id")) for ln in self.lineage_chain()}

    def _commit(self, version: int, lineage: dict, kind: str) -> dict:
        """Stamp the written snapshot's lineage (version, kind, row
        count) and swap the version pointer; returns the lineage."""
        lineage = dict(lineage)
        lineage["version"] = version
        lineage["kind"] = kind
        # parquet-metadata count (no data scan)
        lineage["rows"] = self.spark.read.parquet(self._data_dir(version)).count()
        with open(os.path.join(self._snapshot_dir(version), "_LINEAGE.json"), "w") as f:
            json.dump(lineage, f, indent=2)
        tmp = self._version_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "committed_at": time.time()}, f)
        os.replace(tmp, self._version_file)  # atomic pointer swap
        return lineage

    def _layout(self) -> tuple[dict, list[dict]]:
        """(base lineage, delta lineages since it), from one pass over
        the chain. The base is the most recent snapshot with kind ==
        'base'. Every read and write path starts here, so an
        uninitialized store fails the same way everywhere."""
        chain = self.lineage_chain()
        if not chain:
            raise FileNotFoundError(f"frontier not initialized at {self.path}")
        base = chain[0]
        for ln in chain:
            if ln.get("kind", "base") == "base":
                base = ln
        deltas = [
            ln
            for ln in chain
            if ln["version"] > base["version"] and ln.get("kind") == "delta"
        ]
        return base, deltas

    # -- merge-on-read resolution -----------------------------------------
    def _bucket(self, col: Column) -> Column:
        return F.pmod(F.xxhash64(col), F.lit(self.host_buckets)).cast("int")

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("host_bucket", self._bucket(F.col("host")))

    def _read_base(self, base: dict) -> DataFrame:
        df = self.spark.read.parquet(self._data_dir(base["version"]))
        if "_tombstone" in df.columns:  # never true after compaction
            df = df.filter(~F.col("_tombstone")).drop("_tombstone")
        return df

    def _delta_union(self, deltas: list[dict]) -> DataFrame:
        """Every delta snapshot since the base in one union, each row
        tagged with its version and a ``_tombstone`` flag."""
        dl = None
        for ln in deltas:
            dv = ln["version"]
            d = self.spark.read.parquet(self._data_dir(dv)).withColumn(
                "_delta_v", F.lit(dv)
            )
            if "_tombstone" not in d.columns:
                d = d.withColumn("_tombstone", F.lit(False))
            dl = d if dl is None else dl.unionByName(d)
        return dl

    @staticmethod
    def _has_hostless_tombstone(dl: DataFrame) -> bool:
        """A host-less tombstone buckets by url_hash, NOT by its
        victim's host bucket — bucket-scoped resolution would then miss
        the victim and resurrect it, so bucket-scoped callers fall back
        to resolving every bucket (delete() with host is colocated and
        safe)."""
        return (
            dl.filter(F.col("_tombstone") & F.col("host").isNull()).limit(1).count()
            > 0
        )

    def _resolve(self, base: DataFrame, dl: DataFrame, deltas: list[dict]) -> DataFrame:
        """The MOR scan: base rows not shadowed by a delta key, plus the
        newest delta row per key; tombstoned keys (equality deletes)
        drop out entirely. Callers may pre-filter ``base`` and ``dl`` to
        the same buckets."""
        # newest delta wins per key; the delta set is O(updates since
        # last compaction), so this window shuffles deltas, not the base
        win = Window.partitionBy("url_hash").orderBy(F.desc("_delta_v"))
        latest = (
            dl.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_delta_v")
        )
        delta_keys = latest.select("url_hash")
        # the delta key count is known from lineage (O(updates) by
        # construction): hint the broadcast explicitly so the base side
        # NEVER shuffles at 10^10 rows, AQE present or not (the hint is
        # what Iceberg MOR relies on AQE for; here we know the count)
        if sum(ln.get("rows", 0) for ln in deltas) <= self.BROADCAST_DELTA_KEYS_MAX:
            delta_keys = F.broadcast(delta_keys)
        kept = base.join(delta_keys, on="url_hash", how="left_anti")
        live = latest.filter(~F.col("_tombstone")).drop("_tombstone")
        return kept.unionByName(live.select(*base.columns))

    def has_deltas(self) -> bool:
        """True when read() must resolve delta snapshots (window +
        anti-join) on top of the base scan. Callers use this to decide
        whether caching the MOR view is worth anything: a base-only
        read is a plain columnar parquet scan, and re-scanning it is
        CHEAPER than building + reading a block cache (measured: the
        unconditional per-round persist cost ~1.5x per-shard slowdown
        under 4-way executor concurrency on the scaling bench)."""
        return bool(self._layout()[1])

    def read(self) -> DataFrame:
        """The current table: the base scan, MOR-resolved against every
        delta since it."""
        base_ln, deltas = self._layout()
        base = self._read_base(base_ln)
        if not deltas:
            return base
        return self._resolve(base, self._delta_union(deltas), deltas)

    def read_host(self, host: str) -> DataFrame:
        """Host-scoped MOR read that touches ONLY the host's bucket:
        the base scan is partition-pruned to ``host_bucket=N`` (the S4
        reversed-key range-scan analog, CrawlFilters.java:147-175) and
        delta resolution filters to the same bucket. Falls back to the
        full read when any delta carries a host-less tombstone."""
        base_ln, deltas = self._layout()
        bucket = self.spark.range(1).select(self._bucket(F.lit(host)).alias("b"))
        in_bucket = F.col("host_bucket") == bucket.collect()[0]["b"]
        rows = self._read_base(base_ln).filter(in_bucket)
        if deltas:
            dl = self._delta_union(deltas)
            if self._has_hostless_tombstone(dl):
                rows = self._resolve(self._read_base(base_ln), dl, deltas)
            else:
                rows = self._resolve(rows, dl.filter(in_bucket), deltas)
        return rows.filter(F.col("host") == host)

    # -- operations ------------------------------------------------------
    def init(self, df: DataFrame, lineage: dict | None = None) -> int:
        return self._write_snapshot(
            self.with_bucket(df), dict(lineage or {"op": "init"}), kind="base"
        )["version"]

    @staticmethod
    def _write_buckets(df: DataFrame, out: str) -> None:
        (
            df.repartition(F.col("host_bucket"))
            .write.mode("overwrite")
            .partitionBy("host_bucket")
            .parquet(out)
        )

    def _write_snapshot(self, df: DataFrame, lineage: dict, kind: str) -> dict:
        v = self.current_version() + 1
        self._write_buckets(df, self._data_dir(v))
        return self._commit(v, lineage, kind)

    @staticmethod
    def _link_parts(src: str, dst: str) -> int:
        """Hard-link (copy across filesystems) every parquet part file
        of ``src`` into ``dst``; returns how many."""
        os.makedirs(dst, exist_ok=True)
        linked = 0
        for fn in os.listdir(src):
            if not (fn.startswith("part-") and fn.endswith(".parquet")):
                continue
            try:
                os.link(os.path.join(src, fn), os.path.join(dst, fn))
            except OSError:
                shutil.copy2(os.path.join(src, fn), os.path.join(dst, fn))
            linked += 1
        return linked

    def _maybe_compact(self, base: dict, deltas: list[dict]) -> None:
        """Compaction trigger after a delta commit (``deltas`` includes
        the new one): row ratio, snapshot count, or broadcast gate."""
        delta_rows = sum(ln.get("rows", 0) for ln in deltas)
        if (
            delta_rows > self.compact_ratio * max(base.get("rows", 0), 1)
            or len(deltas) > self.MAX_DELTA_SNAPSHOTS
            # keep the MOR read on the broadcast anti-join path: once
            # accumulated delta keys outgrow the broadcast gate, every
            # read would shuffle the full base 2-3x per round (ADVICE r5)
            or delta_rows > self.BROADCAST_DELTA_KEYS_MAX
        ):
            self.compact()

    def merge(self, updates: DataFrame, lineage: dict | None = None) -> int:
        """Upsert full rows keyed by url_hash (WHEN MATCHED -> replace,
        WHEN NOT MATCHED -> insert) as an O(updates) delta append; the
        shadowing happens at read (MOR). ``updates`` must carry
        complete frontier-schema rows; the merge itself is mechanical
        so update logic stays in the operators."""
        base_ln, deltas = self._layout()
        cols = self.spark.read.parquet(self._data_dir(base_ln["version"])).columns
        updates = self.with_bucket(updates.drop("host_bucket")).select(*cols)
        new = self._write_snapshot(
            updates, dict(lineage or {"op": "merge"}), kind="delta"
        )
        self._maybe_compact(base_ln, deltas + [new])
        return self.current_version()

    def merge_linked(self, data_dir: str, lineage: dict | None = None) -> int:
        """Zero-copy merge: adopt an ALREADY-MATERIALIZED parquet
        directory (e.g. the round's resume artifact) as the next delta
        snapshot by hard-linking its part files — no second shuffle,
        no second write of the same rows. Iceberg's add_files analog.

        Requirements: the directory's schema must carry every store
        column including a ``host_bucket`` computed with THIS store's
        bucket count (callers use :meth:`with_bucket` before writing
        the artifact). Raises ValueError otherwise; :meth:`merge`
        rebuckets.

        Scale note: this is the difference between writing the round's
        updates once vs twice; at 10^10 rows the delta write is pure
        I/O, so halving it halves the updatedb tail."""
        base_ln, deltas = self._layout()
        cols = set(self.spark.read.parquet(self._data_dir(base_ln["version"])).columns)
        src = self.spark.read.parquet(data_dir)
        if not cols <= set(src.columns):
            missing = cols - set(src.columns)
            raise ValueError(f"merge_linked: artifact missing columns {missing}")
        # the artifact's host_bucket values must have been computed with
        # THIS store's bucket count — a stale resume artifact with a
        # different bucketing would pass the column check but poison
        # bucket-pruned reads and incremental compaction. Writers stamp
        # the count via stamp_bucketing(); unstamped artifacts get a
        # bounded sample recheck instead of blind trust.
        stamp = os.path.join(data_dir, "_WNS_BUCKETING.json")
        if os.path.exists(stamp):
            with open(stamp) as f:
                artifact_buckets = int(json.load(f).get("host_buckets", -1))
            if artifact_buckets != self.host_buckets:
                raise ValueError(
                    f"merge_linked: artifact bucketed with host_buckets="
                    f"{artifact_buckets}, store uses {self.host_buckets}; "
                    f"use merge() to rebucket"
                )
        else:
            mismatch = (
                src.filter(F.col("host").isNotNull())
                .limit(1024)
                .filter(F.col("host_bucket") != self._bucket(F.col("host")))
                .limit(1)
                .count()
            )
            if mismatch:
                raise ValueError(
                    "merge_linked: artifact host_bucket values do not match "
                    f"this store's bucketing (host_buckets={self.host_buckets}); "
                    "use merge() to rebucket"
                )
        v = self.current_version() + 1
        if not self._link_parts(data_dir, self._data_dir(v)):
            raise ValueError(f"merge_linked: no part files in {data_dir}")
        meta = dict(lineage or {"op": "merge"})
        meta["linked_from"] = data_dir
        new = self._commit(v, meta, kind="delta")
        self._maybe_compact(base_ln, deltas + [new])
        return self.current_version()

    def stamp_bucketing(self, data_dir: str) -> None:
        """Record this store's bucket count inside a stage-artifact
        directory so a later :meth:`merge_linked` can verify the
        artifact's ``host_bucket`` column matches the store layout."""
        with open(os.path.join(data_dir, "_WNS_BUCKETING.json"), "w") as f:
            json.dump({"host_buckets": self.host_buckets}, f)

    def delete(self, keys: DataFrame, lineage: dict | None = None) -> int:
        """Equality delete (Iceberg MERGE ... WHEN MATCHED THEN DELETE
        analog): append a tombstone delta carrying only the keys —
        O(deletes), the rows vanish at read and physically at the next
        compaction. ``keys`` must have url_hash; pass host too when
        available so tombstones land in the SAME bucket as the live
        rows they kill — bucket-scoped resolution (read_host,
        incremental compact) can then stay in one bucket; a host-less
        tombstone forces those back to resolving every bucket.

        URL-seen interplay: the Bloom backend cannot unset bits, so a
        deleted URL still probes maybe_seen=True — which routes it to
        updatedb's exact frontier semi-join, where it correctly shows as new
        and can be re-discovered. No invariant breaks (this is the
        same path as any Bloom false positive). The cuckoo backend
        (``store/cuckoo.py``, cfg.urlseen_backend="cuckoo") supports
        true deletion — call its ``delete_round`` with the same keys
        so the pre-screen's selectivity recovers too."""
        base_ln, _ = self._layout()
        schema = self.spark.read.parquet(self._data_dir(base_ln["version"])).schema
        has_host = "host" in keys.columns
        tomb = keys.select("url_hash", *(["host"] if has_host else []))
        for field in schema.fields:
            if field.name in ("url_hash", "host_bucket") or field.name in tomb.columns:
                continue
            tomb = tomb.withColumn(field.name, F.lit(None).cast(field.dataType))
        # with host: bucket identically to live rows (with_bucket) so a
        # bucket-pruned read sees tombstone and victim together; without
        # one, spread by key (correct for full scans only — see above)
        tomb = tomb.withColumn(
            "host_bucket", self._bucket(F.col("host" if has_host else "url_hash"))
        )
        tomb = tomb.withColumn("_tombstone", F.lit(True))
        return self._write_snapshot(
            tomb, dict(lineage or {"op": "delete"}), kind="delta"
        )["version"]

    def compact(self, lineage: dict | None = None) -> int:
        """Materialize the MOR view as a new base snapshot (Iceberg's
        rewrite_data_files analog); tombstoned rows are physically
        removed here.

        INCREMENTAL: only host_buckets that appear in a delta are
        resolved and rewritten; every untouched bucket's partition
        directory is hard-linked from the old base. Compaction cost is
        therefore O(touched frontier), not O(frontier) — at 10^10 rows
        with thousands of buckets a round's updates touch a subset, so
        the periodic compaction spike shrinks with update locality
        instead of scaling with the table. Falls back to the full
        rewrite when every bucket is touched."""
        base_ln, deltas = self._layout()
        if not deltas:
            return self.current_version()
        meta = dict(lineage or {"op": "compact"})
        dl = self._delta_union(deltas)
        base = self._read_base(base_ln)
        if self._has_hostless_tombstone(dl):
            return self._write_snapshot(
                self._resolve(base, dl, deltas), meta, kind="base"
            )["version"]
        # touched buckets = buckets present in any delta (linked deltas
        # carry host_bucket as a data column; partitioned ones as a
        # partition column — both read back as a column)
        touched = sorted(
            r["host_bucket"]
            for r in dl.select("host_bucket").distinct().collect()
        )
        base_dir = self._data_dir(base_ln["version"])
        # derive untouched buckets from the base directory listing, not
        # range(host_buckets): the listing is ground truth for what the
        # base actually holds, so even a bucket-count drift that slipped
        # past the _STORE_META guard cannot silently drop partitions
        base_listed = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base_dir)
            if d.startswith("host_bucket=") and os.path.isdir(os.path.join(base_dir, d))
        )
        untouched = [b for b in base_listed if b not in set(touched)]
        # resolve MOR only for the touched buckets (partition-pruned
        # base scan). When EVERY bucket is touched this is the full
        # rewrite — still resolved from the dl union built above (one
        # delta read + one window), never a second self.read() pass.
        if untouched:
            base = base.filter(F.col("host_bucket").isin(touched))
        v = self.current_version() + 1
        out = self._data_dir(v)
        self._write_buckets(self._resolve(base, dl, deltas), out)
        # link every untouched bucket's partition dir from the old base
        for b in untouched:
            src = os.path.join(base_dir, f"host_bucket={b}")
            if os.path.isdir(src):  # else: bucket empty in base
                self._link_parts(src, os.path.join(out, f"host_bucket={b}"))
        meta["compacted_buckets"] = len(touched)
        return self._commit(v, meta, kind="base")["version"]


class IcebergFrontierStore(FrontierStore):
    """MERGE INTO against an Iceberg table (production path).

    The SQL below is the exact logical statement the parquet store
    emulates; on a cluster run
    ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-...``
    with a configured catalog, and pass ``table`` like
    ``catalog.db.frontier``.
    """

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table

    def read(self) -> DataFrame:
        return self.spark.read.format("iceberg").load(self.table)

    def merge(self, updates: DataFrame, lineage: dict | None = None) -> int:
        updates.createOrReplaceTempView("_frontier_updates")
        cols = updates.columns
        set_clause = ", ".join(f"t.{c} = s.{c}" for c in cols)
        insert_cols = ", ".join(cols)
        insert_vals = ", ".join(f"s.{c}" for c in cols)
        self.spark.sql(
            f"""
            MERGE INTO {self.table} t
            USING _frontier_updates s
            ON t.url_hash = s.url_hash
            WHEN MATCHED THEN UPDATE SET {set_clause}
            WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})
            """
        )
        return -1  # Iceberg snapshots tracked by the catalog
