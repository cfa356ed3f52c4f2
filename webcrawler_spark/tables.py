"""Snapshot-versioned table catalog (SURVEY.md §7.0, §2.1 S5/S7).

Emulates the Iceberg snapshot semantics the north_rule asks for
(append-only snapshots, time travel, resume-from-snapshot) on plain
parquet + a JSON manifest, so the whole engine runs in this sandbox.
The write path is isolated behind this module: against a real Iceberg
catalog every ``append``/``overwrite`` below becomes a one-line
``df.writeTo(name).append()`` / ``.overwritePartitions()`` swap.

Design:

* A table snapshot = an ordered list of immutable parquet directories
  (``data dirs``).  ``append`` adds one new dir; ``overwrite`` starts a
  fresh list.  Reading a snapshot =
  ``spark.read.schema(s).parquet(*dirs)`` with the schema recorded at
  the table's last write: a supplied schema skips the footer-scanning
  schema-inference job Spark otherwise runs on every read (one per
  catalog read, ~100 ms each on a local session).
* An empty table (``register_empty``) is schema-only: no data dir, and
  ``read`` returns an empty frame of the recorded schema — no Spark job
  until the first real write.
* ``manifest.json`` maps ``round -> {table: [dirs...], schemas:
  {table: schema-json}, state: {...}}`` plus the small driver scalars
  (virtual clock, curr_min/max, totals) that the reference kept in
  locked heap variables (WorkersPipeline.py:24-26) — checkpoint = the
  manifest row. Every row repeats the schema of every table, so each
  round can be read as of itself (time travel, resume); the cost is a
  manifest that grows by a few KB per retained row and is rewritten on
  every commit — ``gc_keep_rounds`` bounds it. A row written before
  schemas were recorded has no ``schemas`` key; its tables are read
  with schema inference.
* Two parquet catalogs share one data path (``_ParquetTables``: the
  dir lists, recorded schemas and a single writer behind ``overwrite``
  / ``append`` / ``append_delta`` / ``register_empty`` / ``compact``)
  and differ only in what they do with replaced dirs and the state:
  - :class:`ParquetCatalog` — durable, resumable (used by the CLI and
    the resumption tests): a manifest row per round, old dirs kept for
    time travel until ``gc``.
  - :class:`MemoryCatalog` — ephemeral session-temp-dir variant for
    tests/benchmarks (same parquet round-trip, state in memory, replaced
    dirs deleted at the next ``commit_round``; see its docstring for why
    parquet rather than localCheckpoint).
  :class:`IcebergCatalog` implements the same interface natively.

Scale note (10^10 URLs): `frontier`/`seen` carry a ``bucket`` column
(= ``pmod(xxhash64(host), n_buckets)``) and every written dataset is
repartitioned by it, so the per-round anti-join and the per-host window
rank shuffle on a key that is already the storage layout; with a real
Iceberg catalog this becomes a storage-partitioned join (no shuffle at
all, SURVEY.md O12).
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from webcrawler_spark.sparkutil import checkpoint, free


def _scan(
    spark: SparkSession, dirs: Optional[list], schema: Optional[StructType]
) -> Optional[DataFrame]:
    """Read a table's data dirs with its recorded schema (no inference
    job), or inferring it when none is recorded; a schema-only table
    (no dirs) reads as an empty frame, an unknown one as None."""
    if not dirs:
        return None if schema is None else spark.createDataFrame([], schema)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*dirs)


def _row_schemas(row: dict) -> dict[str, StructType]:
    """A manifest row's recorded table schemas ({} for a pre-upgrade row)."""
    return {t: StructType.fromJson(s) for t, s in row.get("schemas", {}).items()}


class _ParquetTables:
    """The data path both parquet catalogs share. One writer
    (:meth:`_write`) adds one new dir per call: ``overwrite`` starts a
    fresh dir list, ``append``/``append_delta`` extend it. It always
    uses ``mode("overwrite")``: harmless in a fresh dir, and a resumed
    durable crawl re-allocates the seq numbers of dirs its crashed
    round may have written, uncommitted garbage it must clobber. A
    replaced dir list goes to :meth:`_replaced`. Writes come from
    concurrent driver threads, so seq and dir lists hold ``_lock``.
    Neither catalog subclasses the other: perfbench wraps both classes'
    methods by name, so an inherited wrapper would trace writes twice."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._dirs: dict[str, list[str]] = {}
        self._schemas: dict[str, StructType] = {}  # name -> last written schema
        self._seq = 0
        self._lock = threading.Lock()

    def _replaced(self, dirs: list[str]) -> None:
        """Called under ``_lock`` with a table's replaced dirs."""

    def _new_dir(self, name: str) -> str:
        with self._lock:
            self._seq += 1
            return os.path.join(self.root, name, f"d{self._seq:06d}")

    def _write(
        self, name: str, df: DataFrame, max_records_per_file: int = 0,
        append: bool = False,
    ) -> str:
        d = self._new_dir(name)
        w = df.write.mode("overwrite")
        if max_records_per_file:
            # O7: the reference rotated WARC files at 1,000 records
            # (WarcFileSave.py:9); parquet's maxRecordsPerFile is the
            # native equivalent — bounded output files per snapshot
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(d)
        with self._lock:
            self._schemas[name] = df.schema
            if append:
                self._dirs.setdefault(name, []).append(d)
            else:
                self._replaced(self._dirs.get(name) or [])
                self._dirs[name] = [d]
        return d

    def read(self, name: str) -> Optional[DataFrame]:
        return _scan(self.spark, self._dirs.get(name), self._schemas.get(name))

    def overwrite(self, name: str, df: DataFrame) -> DataFrame:
        return _scan(self.spark, [self._write(name, df)], df.schema)

    def register_empty(self, name: str, df: DataFrame) -> DataFrame:
        """An empty table WITHOUT a Spark job: no data dir, only the
        schema (a durable resume reads it off the manifest row)."""
        with self._lock:
            self._schemas[name] = df.schema
            self._replaced(self._dirs.get(name) or [])
            self._dirs[name] = []
        return self.read(name)

    def append(self, name: str, df: DataFrame, max_records_per_file: int = 0) -> DataFrame:
        self._write(name, df, max_records_per_file, append=True)
        return self.read(name)

    def append_delta(self, name: str, df: DataFrame, max_records_per_file: int = 0) -> DataFrame:
        """Append and return a reader over ONLY the new delta files —
        lets callers re-read a pruned column subset of what they just
        wrote instead of caching the full rows."""
        return _scan(
            self.spark, [self._write(name, df, max_records_per_file, append=True)],
            df.schema,
        )

    def compact(self, name: str) -> Optional[DataFrame]:
        """Merge a table's delta dirs into one snapshot dir: bounds the
        union fan-in of a table that gains one delta per round (the
        durable manifest keeps the old dirs until ``gc``)."""
        cur = self.read(name)
        if cur is None:
            return None
        return self.overwrite(name, cur)


class MemoryCatalog(_ParquetTables):
    """Ephemeral catalog: parquet snapshots in a session temp dir.

    Why parquet and not ``localCheckpoint``: a checkpoint's LogicalRDD
    *inherits the statistics of the plan it checkpointed*. In an
    iterative loop the join-size estimates therefore COMPOUND round
    over round (join stats are products), and after ~15 rounds the
    ``sizeInBytes`` BigInt reaches millions of bits — Catalyst then
    spends the whole round in BigInteger Toom-Cook multiplications and
    eventually OOMs on int[] digits. (Found the hard way; see repo
    history.) A parquet round-trip resets every leaf to real file
    statistics, which also lets AQE pick honest join strategies.

    State (the manifest scalars) is kept in memory only — this catalog
    is for tests/benchmarks; use :class:`ParquetCatalog` for durable,
    resumable crawls.
    """

    durable = False

    def __init__(self, spark: SparkSession, root: str | None = None):
        import tempfile

        super().__init__(spark, root or tempfile.mkdtemp(prefix="wcspark-cat-"))
        self._state: dict = {}
        self._garbage: list[str] = []

    def _replaced(self, dirs: list[str]) -> None:
        # deferred: reclaimed at commit_round, so concurrent round jobs
        # can still read the replaced snapshot
        self._garbage.extend(dirs)

    def commit_round(self, round_no: int, state: dict) -> None:
        self._state = dict(state)
        with self._lock:
            garbage, self._garbage = self._garbage, []
        if garbage:
            import shutil

            for o in garbage:
                shutil.rmtree(o, ignore_errors=True)

    def load_state(self) -> Optional[dict]:
        return dict(self._state) if self._state else None

    def gc(self, keep_rounds: int = 8) -> dict:
        """No-op: the ephemeral catalog reclaims replaced dirs at every
        commit already (no time-travel manifest to retain)."""
        return {"pruned_rounds": 0, "deleted_dirs": 0}


class ParquetCatalog(_ParquetTables):
    """Durable snapshot catalog: parquet data dirs + manifest.json.

    Layout::

        root/
          manifest.json         # {"rounds": [{"round": r, "tables": {...},
                                #              "schemas": {...},
                                #              "state": {...}, "ts": ...}]}
          <table>/d000017/...   # immutable data dirs (never rewritten)

    Resume = read the last manifest row; every data dir referenced by it
    still exists (appends never delete), so any snapshot is recoverable
    (north_rule: "resumable from checkpoint").
    """

    durable = True

    def __init__(self, spark: SparkSession, root: str, as_of_round: int | None = None):
        """Open the catalog at its latest snapshot, or — time travel —
        at the newest snapshot with ``round <= as_of_round``. Opening
        as-of an older snapshot forks history: subsequent commits
        append new manifest rows (the rounds list stays append-only and
        the latest row is the fork head), and ``_seq`` restarts above
        the MAX seq ever allocated so new data dirs can never clobber
        dirs referenced by the rounds being forked away."""
        super().__init__(spark, root)
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "manifest.json")
        self._as_of = as_of_round
        last = self._round_row(as_of_round)
        if last is not None:
            self._dirs = {t: list(ds) for t, ds in last["tables"].items()}
            self._schemas = _row_schemas(last)
            self._seq = (
                last["seq"]
                if as_of_round is None
                else max(r["seq"] for r in self._manifest()["rounds"])
            )

    # -- manifest ------------------------------------------------------
    def _manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"rounds": []}

    def _round_row(self, as_of_round: int | None) -> Optional[dict]:
        """Newest manifest row, or the newest with round <= as_of_round."""
        rounds = self._manifest()["rounds"]
        if not rounds:
            return None
        if as_of_round is None:
            return rounds[-1]
        eligible = [r for r in rounds if r["round"] <= as_of_round]
        if not eligible:
            raise ValueError(
                f"no snapshot at or before round {as_of_round}; "
                f"earliest committed round is {rounds[0]['round']}"
            )
        return eligible[-1]

    def load_state(self) -> Optional[dict]:
        last = self._round_row(self._as_of)
        return dict(last["state"]) if last else None

    # -- time travel ---------------------------------------------------
    def snapshots(self) -> list[dict]:
        """One row per committed snapshot: round, commit ts, tables."""
        return [
            {"round": r["round"], "ts": r["ts"], "tables": sorted(r["tables"])}
            for r in self._manifest()["rounds"]
        ]

    def read_as_of(self, name: str, round_no: int) -> Optional[DataFrame]:
        """Read a table as of the newest snapshot with round <= round_no
        (Iceberg time-travel analog; data dirs are immutable so every
        committed snapshot stays readable)."""
        row = self._round_row(round_no)
        if row is None or name not in row["tables"]:
            return None
        return _scan(
            self.spark, row["tables"][name], _row_schemas(row).get(name)
        )

    def commit_round(self, round_no: int, state: dict) -> None:
        """Atomically publish this round's snapshot (write-then-rename)."""
        m = self._manifest()
        m["rounds"].append(
            {
                "round": round_no,
                "seq": self._seq,
                "tables": {t: list(ds) for t, ds in self._dirs.items()},
                "schemas": {
                    t: s.jsonValue() for t, s in self._schemas.items()
                },
                "state": state,
                "ts": time.time(),
            }
        )
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)
        # a catalog opened as-of an older round stops time-traveling at
        # its first fork commit: the row just appended is now this
        # instance's head, so load_state()/_round_row must track it
        # (not keep filtering by the original as_of forever)
        self._as_of = None

    def gc(self, keep_rounds: int = 8) -> dict:
        """Snapshot-retention GC (Iceberg ``expire_snapshots`` analog):
        prune manifest rows older than the newest ``keep_rounds`` and
        delete data dirs referenced ONLY by pruned rows. Dirs shared
        with retained rows (tables that didn't change) and dirs staged
        by the in-flight round survive; time travel keeps working for
        every retained round. Bounds disk AND the manifest itself on
        thousand-round crawls."""
        import shutil

        if keep_rounds < 1:
            raise ValueError("keep_rounds must be >= 1")
        m = self._manifest()
        rounds = m["rounds"]
        if len(rounds) <= keep_rounds:
            return {"pruned_rounds": 0, "deleted_dirs": 0}
        kept, pruned = rounds[-keep_rounds:], rounds[:-keep_rounds]
        live = {
            d for r in kept for ds in r["tables"].values() for d in ds
        }
        with self._lock:
            live |= {d for ds in self._dirs.values() for d in ds}
        dead = {
            d for r in pruned for ds in r["tables"].values() for d in ds
        } - live
        for d in sorted(dead):
            shutil.rmtree(d, ignore_errors=True)
        m["rounds"] = kept
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)
        return {"pruned_rounds": len(pruned), "deleted_dirs": len(dead)}


class IcebergCatalog:
    """The same catalog interface against a REAL Iceberg catalog —
    the swap the module docstring promises, as code instead of prose.

    ``prefix`` is a fully-qualified Iceberg namespace (e.g.
    ``local.crawl`` for a Hadoop catalog named ``local``); every table
    ``name`` becomes ``{prefix}.{name}`` and every write is the native
    DataFrameV2 path:

    * ``overwrite``  -> ``df.writeTo(fqn).using("iceberg").createOrReplace()``
    * ``append``     -> ``df.writeTo(fqn).append()``
    * ``append_delta`` -> append + Iceberg incremental read
      (``start-snapshot-id``/``end-snapshot-id``) over just-written files
    * ``commit_round`` -> one row appended to ``{prefix}.crawl_rounds``
      recording the round's state scalars and each table's CURRENT
      snapshot id — the checkpoint is itself an Iceberg table
    * ``read_as_of``/time travel -> ``VERSION AS OF`` the snapshot id
      recorded by that round's checkpoint row
    * ``compact``    -> ``CALL <cat>.system.rewrite_data_files``
    * ``gc``         -> ``CALL <cat>.system.expire_snapshots``

    The engine never touches storage outside this class, so running on
    Iceberg is construction-time wiring: ``CrawlEngine(...,
    catalog=IcebergCatalog(spark, "prod.crawl"))``. The sandbox ships
    no Iceberg runtime jar (and has no network to fetch one), so the
    class is exercised two ways in tests/test_iceberg_catalog.py: a
    call-sequence conformance suite over recorder mocks (every method,
    in-sandbox) and a real end-to-end suite that runs whenever a
    ``spark.sql.catalog.*`` Iceberg catalog is configured (skipped
    here with the attempted probe documented).
    """

    durable = True

    def __init__(
        self,
        spark: SparkSession,
        prefix: str,
        as_of_round: int | None = None,
        target_file_mb: int = 128,
    ):
        self.spark = spark
        self.prefix = prefix
        self.catalog_name = prefix.split(".", 1)[0]
        self.target_file_mb = target_file_mb
        self._rounds_fqn = f"{prefix}.crawl_rounds"
        self._as_of = as_of_round
        self._known: set[str] = set()
        self._lock = threading.Lock()
        ns = prefix.split(".", 1)[1] if "." in prefix else prefix
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog_name}.{ns}"
        )
        # Seed _known from the (as-of) checkpoint row, mirroring
        # ParquetCatalog's _dirs reseed: without this, the first
        # commit_round after a process restart would record snapshot
        # ids only for tables written since restart, silently dropping
        # pins for untouched tables (their heads are unchanged, so
        # re-recording the current snapshot id is exactly right).
        row = self._round_row(self._as_of)
        if row is not None:
            self._known.update(row["tables"])

    def _fqn(self, name: str) -> str:
        return f"{self.prefix}.{name}"

    def _exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._fqn(name))

    def _snapshot_id(self, name: str) -> Optional[int]:
        # The main branch ref IS the current snapshot — strictly
        # correct even when two snapshots commit in the same
        # committed_at tick (rapid append then compact), where an
        # ORDER BY committed_at DESC LIMIT 1 over the snapshots
        # metadata table could pick the wrong one and corrupt
        # append_delta's start/end window.
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._fqn(name)}.refs"
            " WHERE name = 'main' AND type = 'BRANCH'"
        ).collect()
        return int(rows[0][0]) if rows else None

    def _round_row(self, as_of_round: int | None) -> Optional[dict]:
        if not self._exists("crawl_rounds"):
            return None
        df = self.spark.table(self._rounds_fqn)
        if as_of_round is not None:
            df = df.filter(df.round <= as_of_round)
        rows = df.orderBy(df.round.desc()).limit(1).collect()
        if not rows:
            if as_of_round is not None:
                raise ValueError(
                    f"no snapshot at or before round {as_of_round}"
                )
            return None
        r = rows[0]
        return {
            "round": int(r["round"]),
            "ts": float(r["ts"]),
            "state": json.loads(r["state"]),
            "tables": json.loads(r["snapshots"]),
        }

    # -- data ------------------------------------------------------------
    def read(self, name: str) -> Optional[DataFrame]:
        if not self._exists(name):
            return None
        if self._as_of is not None:
            row = self._round_row(self._as_of)
            sid = (row or {"tables": {}})["tables"].get(name)
            if sid is None:
                # ParquetCatalog parity: a table with no pin in the
                # as-of checkpoint row did not exist in that era —
                # falling through to the CURRENT head would silently
                # return wrong-era data
                return None
            return self.spark.read.option(
                "snapshot-id", sid
            ).table(self._fqn(name))
        return self.spark.table(self._fqn(name))

    def overwrite(self, name: str, df: DataFrame) -> DataFrame:
        (
            df.writeTo(self._fqn(name))
            .using("iceberg")
            .tableProperty(
                "write.target-file-size-bytes",
                str(self.target_file_mb << 20),
            )
            .createOrReplace()
        )
        with self._lock:
            self._known.add(name)
        return self.spark.table(self._fqn(name))

    def register_empty(self, name: str, df: DataFrame) -> DataFrame:
        return self.overwrite(name, df.limit(0))

    def _append(self, name: str, df: DataFrame, max_records_per_file: int):
        if not self._exists(name):
            return self.overwrite(name, df)
        # max_records_per_file unused: Iceberg sizes files by write.target-file-size-bytes
        df.writeTo(self._fqn(name)).append()
        with self._lock:
            self._known.add(name)
        return None

    def append(self, name: str, df: DataFrame, max_records_per_file: int = 0) -> DataFrame:
        created = self._append(name, df, max_records_per_file)
        return created if created is not None else self.spark.table(self._fqn(name))

    def append_delta(self, name: str, df: DataFrame, max_records_per_file: int = 0) -> DataFrame:
        before = self._snapshot_id(name) if self._exists(name) else None
        created = self._append(name, df, max_records_per_file)
        if created is not None or before is None:
            return self.spark.table(self._fqn(name))
        after = self._snapshot_id(name)
        return (
            self.spark.read.format("iceberg")
            .option("start-snapshot-id", before)
            .option("end-snapshot-id", after)
            .load(self._fqn(name))
        )

    def compact(self, name: str) -> Optional[DataFrame]:
        if not self._exists(name):
            return None
        self.spark.sql(
            f"CALL {self.catalog_name}.system.rewrite_data_files"
            f"(table => '{self._fqn(name)}')"
        )
        return self.spark.table(self._fqn(name))

    # -- checkpoint / time travel -----------------------------------------
    def commit_round(self, round_no: int, state: dict) -> None:
        with self._lock:
            snaps = {
                t: self._snapshot_id(t)
                for t in sorted(self._known)
                if self._exists(t)
            }
        row = self.spark.createDataFrame(
            [(round_no, time.time(), json.dumps(state), json.dumps(snaps))],
            "round bigint, ts double, state string, snapshots string",
        )
        if self._exists("crawl_rounds"):
            row.writeTo(self._rounds_fqn).append()
        else:
            row.writeTo(self._rounds_fqn).using("iceberg").createOrReplace()
        self._as_of = None  # fork head, ParquetCatalog semantics

    def load_state(self) -> Optional[dict]:
        row = self._round_row(self._as_of)
        return dict(row["state"]) if row else None

    def snapshots(self) -> list[dict]:
        if not self._exists("crawl_rounds"):
            return []
        return [
            {
                "round": int(r["round"]),
                "ts": float(r["ts"]),
                "tables": sorted(json.loads(r["snapshots"])),
            }
            for r in self.spark.table(self._rounds_fqn)
            .orderBy("round")
            .collect()
        ]

    def read_as_of(self, name: str, round_no: int) -> Optional[DataFrame]:
        row = self._round_row(round_no)
        if row is None:
            return None
        sid = row["tables"].get(name)
        if sid is None:
            return None
        return self.spark.read.option("snapshot-id", sid).table(
            self._fqn(name)
        )

    def gc(self, keep_rounds: int = 8) -> dict:
        """Iceberg-native retention: drop crawl_rounds rows older than
        the newest ``keep_rounds`` and expire, per table, only
        snapshots strictly older than the OLDEST snapshot still
        referenced by a retained checkpoint row.

        Why not ``retain_last => keep_rounds``: retain_last counts
        Iceberg *snapshots*, not checkpoint *rounds*.  Any round that
        produces more than one snapshot per table (append + compact
        via rewrite_data_files, or multiple appends) would expire
        snapshots still pinned by retained crawl_rounds rows, breaking
        the "time travel keeps working for every retained round"
        guarantee ParquetCatalog.gc preserves."""
        if keep_rounds < 1:
            raise ValueError("keep_rounds must be >= 1")
        if not self._exists("crawl_rounds"):
            return {"pruned_rounds": 0, "deleted_dirs": 0}
        rows = self.spark.table(self._rounds_fqn).orderBy("round").collect()
        if len(rows) <= keep_rounds:
            return {"pruned_rounds": 0, "deleted_dirs": 0}
        kept = rows[-keep_rounds:]
        cutoff = int(kept[0]["round"])
        self.spark.sql(
            f"DELETE FROM {self._rounds_fqn} WHERE round < {cutoff}"
        )
        referenced: dict[str, set[int]] = {}
        for r in kept:
            for t, sid in json.loads(r["snapshots"]).items():
                if sid is not None:
                    referenced.setdefault(t, set()).add(int(sid))
        with self._lock:
            known = sorted(self._known)
        for t in known:
            sids = referenced.get(t)
            if not sids or not self._exists(t):
                # never checkpointed (or dropped): expiring by count
                # could drop live data — leave the table alone
                continue
            ts_rows = self.spark.sql(
                f"SELECT min(committed_at) AS ts"
                f" FROM {self._fqn(t)}.snapshots"
                f" WHERE snapshot_id IN"
                f" ({', '.join(str(s) for s in sorted(sids))})"
            ).collect()
            oldest = ts_rows[0]["ts"] if ts_rows else None
            if oldest is None:
                continue
            # expireOlderThan is exclusive, so every referenced
            # snapshot (committed_at >= oldest) survives;
            # retain_last => 1 is Iceberg's mandatory safety floor
            self.spark.sql(
                f"CALL {self.catalog_name}.system.expire_snapshots"
                f"(table => '{self._fqn(t)}',"
                f" older_than => TIMESTAMP '{oldest}',"
                f" retain_last => 1)"
            )
        return {"pruned_rounds": len(rows) - keep_rounds, "deleted_dirs": -1}
