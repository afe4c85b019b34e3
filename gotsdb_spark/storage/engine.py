"""KV-parity storage engine: the reference's two-tier hot/cold collection
store re-expressed Spark-first.

Reference model (j0shgrant/gotsdb, all citations into /root/reference):
- Collection = map[string]string (internal/storage/types.go:3).
- Hot tier = process-local maps (hot.go:8-10); cold tier = one
  whole-blob gob file per collection (cold.go:14-16, 111-154).
- Engine composes the tiers with read-through promotion
  (engine.go:139-173), write-to-hot-only durability (engine.go:175-185),
  auto-create (engine.go:187-222), explicit flush/evict
  (engine.go:111-126).

Spark-native design (SURVEY.md §1.3) — not a translation:
- A collection's cold form is a **Parquet append-log** of
  (key, value, write_ts, seq) under <data_dir>/<id>/, columnar and
  compressed where the reference rewrites an uncompressed gob blob
  (cold.go:140,152). Last-writer-wins upsert (hot.go:53) becomes
  log-compaction: row_number() over (partitionBy key, orderBy
  write_ts/seq desc) == 1 — the idiomatic immutable-storage upsert.
- The hot tier holds a collection the way the reference does, in
  driver memory (engine.go:100-109), whenever its log has at most
  `materialize_threshold` rows: promotion counts the rows from the
  Parquet footers, reads the log with pyarrow and keeps the latest row
  per key in a dict, with no Spark job. A larger log is promoted as
  the cached compacted view (eviction = .unpersist(), engine.go:121)
  and point reads run as filters on it; that is the only form that can
  hold a log larger than driver memory. A driver-side overlay dict
  holds unflushed writes so read-your-writes holds without
  re-shuffling the cached view on every point write.
- Flush appends only the pending delta as one new log segment, written
  with pyarrow under a dot-prefixed temp name and renamed into place,
  instead of rewriting the collection (cold.go:136-154 rewrites
  everything) — at 100 TB a flush is O(delta), and `compact()` is the
  explicit log-rewrite maintenance job.

Deliberately NOT replicated (reference bugs/gaps, SURVEY.md §1.1):
unsynchronized concurrent map access, flush-only-on-crash durability,
the unanchored filename regex (cold.go:72), HTTP 500 for missing keys.

Error-message parity: the user-visible error strings match the
reference byte-for-byte (hot.go:43,47,65,84; engine.go:172,221).
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window as W

LOG_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("write_ts", T.TimestampType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

# LOG_SCHEMA as the driver reads and writes it (write_ts as µs UTC).
# Spark writes `write_ts` as INT96 by default; pyarrow decodes that at
# µs and casts every segment to these types, so Spark- and
# pyarrow-written segments mix.
_ARROW_LOG_SCHEMA = to_arrow_schema(LOG_SCHEMA)
_PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)

# Collection ids: alphanumeric, per the cold-listing regex (cold.go:72) —
# but anchored, unlike the reference's buggy unanchored pattern.
_ID_RE = re.compile(r"^[a-zA-Z0-9]+$")


class CollectionNotFoundError(KeyError):
    pass


class CollectionExistsError(ValueError):
    pass


class KeyNotFoundError(KeyError):
    pass


def _err_not_found_any(id: str) -> CollectionNotFoundError:
    # engine.go:172
    return CollectionNotFoundError(
        f"No collection found for collection id [{id}] in hot or cold storage"
    )


def _err_not_found_hot(id: str) -> CollectionNotFoundError:
    # hot.go:47
    return CollectionNotFoundError(
        f"No collection found for collection id [{id}] in hot storage."
    )


def _log_dataset(path: str) -> ds.Dataset:
    """The collection log as pyarrow sees it. Discovery skips names
    starting with "." or "_" (temp segments, _SUCCESS, .crc files), as
    Spark's file listing does."""
    return ds.dataset(path, format=_PARQUET, schema=_ARROW_LOG_SCHEMA)


def _latest_per_key(log: pa.Table) -> pa.Table:
    """Driver form of `Engine._compacted`: per key, the row with the
    greatest write_ts (nulls rank lowest, as Spark's desc order puts
    them last), ties broken by the greatest seq. Sorted by key."""
    if log.num_rows == 0:
        return log
    log = log.sort_by(
        [("key", "ascending"), ("write_ts", "descending"), ("seq", "descending")],
        null_placement="at_end",
    )
    keys = log["key"].combine_chunks()
    first = pa.concat_arrays([pa.array([True]), pc.not_equal(keys[1:], keys[:-1])])
    return log.filter(first)


def _write_segment(path: str, table: pa.Table) -> None:
    """Add `table` to a log dir as ONE parquet file, atomically: it is
    written and fsynced under a dot-prefixed temp name, which Spark and
    pyarrow both skip, then renamed into place. The `_SUCCESS` marker
    Spark's committer leaves in a written dir is kept too, and only
    after the segment is in place."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(table, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(path, name))
    open(os.path.join(path, "_SUCCESS"), "a").close()


class Engine:
    """Two-tier collection engine over a SparkSession.

    API parity map (reference → here): ListCollections → list_collections
    (engine.go:39-66), CollectionExists → collection_exists
    (engine.go:69-82), IsHot → is_hot (engine.go:85-98), LoadCollection →
    load_collection (engine.go:100-109), FlushCollection →
    flush_collection (engine.go:111-126), FlushAllCollections →
    flush_all_collections (engine.go:128-137), ReadKey → read_key
    (engine.go:139-173), WriteKey → write_key (engine.go:175-185),
    auto-create (engine.go:187-222), CreateCollection/DropCollection
    (hot.go:62-85).
    """

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        auto_create_collection: bool = True,
        materialize_threshold: int = 1_000_000,
    ) -> None:
        self.spark = spark
        self.data_dir = os.path.abspath(data_dir)
        self.auto_create = auto_create_collection
        # A collection whose log holds at most this many rows (counted
        # from the parquet footers, before any data is read) is promoted
        # into driver memory with pyarrow: a compacted arrow table plus a
        # key -> value dict, giving O(1) point reads and no Spark job —
        # the reference's own semantics (it gob-decodes the whole
        # collection into process memory, engine.go:100-109). Larger
        # logs stay executor-side and point reads run as filters on the
        # cached compacted view; at 100 TB that's the only possible mode.
        self.materialize_threshold = materialize_threshold
        os.makedirs(self.data_dir, exist_ok=True)  # cold.go:27-38
        # Hot tier: compacted base (arrow table on the driver, cached
        # DataFrame above the threshold, or None for new collections) +
        # unflushed-write overlay.
        self._hot_base: dict[str, pa.Table | DataFrame | None] = {}
        self._hot_dict: dict[str, dict[str, str] | None] = {}
        self._pending: dict[str, dict[str, str]] = {}
        # Durable per-collection sequence floor: the max `seq` present in
        # the cold log, discovered lazily and advanced on every flush.
        # Guarantees cross-segment (and cross-engine-generation) seqs are
        # strictly increasing, so the (write_ts, seq) LWW tie-break stays
        # correct even when two flushes land in the same timestamp tick.
        self._seq_floor: dict[str, int] = {}
        self._lock = threading.RLock()  # the reference races (hot.go:53); we don't

    # -- paths ----------------------------------------------------------

    def _path(self, id: str) -> str:
        if not _ID_RE.match(id):
            raise ValueError(f"invalid collection id [{id}]")
        return os.path.join(self.data_dir, id)

    def _log_seq_floor(self, id: str) -> int:
        """Max seq already persisted in the collection's log (0 if none).

        Read from the parquet footers' row-group statistics once per
        engine generation, then cached and advanced locally. Only a row
        group written without statistics has its seq column read. No
        Spark job."""
        if id in self._seq_floor:
            return self._seq_floor[id]
        path = self._path(id)
        floor = 0
        if os.path.isdir(path):
            for file in _log_dataset(path).files:
                with pq.ParquetFile(file) as pf:
                    col = pf.schema_arrow.get_field_index("seq")
                    for i in range(pf.metadata.num_row_groups):
                        stats = pf.metadata.row_group(i).column(col).statistics
                        if stats is not None and stats.has_min_max:
                            top = stats.max
                        else:
                            top = pc.max(pf.read_row_group(i, columns=["seq"])["seq"]).as_py()
                        if top is not None:
                            floor = max(floor, top)
        self._seq_floor[id] = floor
        return floor

    # -- crash recovery -------------------------------------------------

    def _recover(self, id: str) -> None:
        """Finish or roll back an interrupted compact() swap.

        States after a crash: the live dir may be missing while either
        the fully-written replacement (``<id>.compact.tmp`` containing a
        parquet _SUCCESS marker) or the displaced original
        (``<id>.compact.old``) still exists. Promote the complete tmp if
        present, else restore the original; stale leftovers next to a
        live dir are deleted."""
        path = self._path(id)
        tmp, bak = path + ".compact.tmp", path + ".compact.old"
        if os.path.isdir(path):
            for leftover in (tmp, bak):
                if os.path.isdir(leftover):
                    shutil.rmtree(leftover)
            return
        if os.path.isdir(tmp) and os.path.isfile(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, path)
            if os.path.isdir(bak):
                shutil.rmtree(bak)
            return
        if os.path.isdir(bak):
            os.rename(bak, path)
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)

    def _cold_exists(self, id: str) -> bool:
        self._recover(id)
        return os.path.isdir(self._path(id))

    # -- tier inspection ------------------------------------------------

    def list_hot(self) -> list[str]:
        """Hot-tier ids (hot.go:20-27)."""
        with self._lock:
            return sorted(self._hot_base)

    def list_cold(self) -> list[str]:
        """Cold-tier ids from a warehouse dir scan (cold.go:50-84)."""
        if not os.path.isdir(self.data_dir):
            return []
        # Finish any compact() swap interrupted by a crash before listing.
        for e in os.listdir(self.data_dir):
            for suffix in (".compact.tmp", ".compact.old"):
                if e.endswith(suffix):
                    self._recover(e[: -len(suffix)])
        return sorted(
            e
            for e in os.listdir(self.data_dir)
            if _ID_RE.match(e) and os.path.isdir(os.path.join(self.data_dir, e))
        )

    def list_collections(self) -> list[str]:
        """hot ∪ cold, distinct, sorted (engine.go:39-66 — sorted here to
        fix the reference's Go-map-random ordering)."""
        return sorted(set(self.list_hot()) | set(self.list_cold()))

    def collection_exists(self, id: str) -> bool:
        """Hot first ('slower due to requiring filesystem io',
        engine.go:70-75), then cold."""
        with self._lock:
            if id in self._hot_base:
                return True
        return self._cold_exists(id)

    def is_hot(self, id: str) -> bool:
        """engine.go:85-98 — errors if the collection exists in neither
        tier."""
        with self._lock:
            if id in self._hot_base:
                return True
        if self._cold_exists(id):
            return False
        raise _err_not_found_any(id)

    # -- log compaction (the Spark-native upsert) -----------------------

    def _compacted(self, df: DataFrame) -> DataFrame:
        """Latest value per key: the log-compaction view.

        At 100 TB this is one shuffle on `key`; with the log bucketed by
        key (write path below) AQE keeps partitions balanced and the
        window never sees more than one key's history per task.
        """
        w = W.partitionBy("key").orderBy(F.desc("write_ts"), F.desc("seq"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _overlay_table(self, id: str, start_seq: int) -> pa.Table:
        """Pending (unflushed) writes as log rows stamped now.

        ``start_seq`` is the durable floor: persisted overlay rows get
        seqs strictly above every seq already in the log, keeping the
        (write_ts, seq) LWW tie-break valid across flush segments and
        engine generations."""
        pending = self._pending[id]
        n = len(pending)
        return pa.Table.from_pydict(
            {
                "key": list(pending),
                "value": list(pending.values()),
                "write_ts": [time.time_ns() // 1000] * n,
                "seq": list(range(start_seq + 1, start_seq + 1 + n)),
            },
            schema=_ARROW_LOG_SCHEMA,
        )

    def _driver_log(self, path: str) -> pa.Table | None:
        """The compacted log read on the driver, or None when the
        footers count more than `materialize_threshold` rows (the log
        then stays on Spark)."""
        log = _log_dataset(path)
        if log.count_rows() > self.materialize_threshold:
            return None
        return _latest_per_key(log.to_table())

    def snapshot(self, id: str) -> DataFrame:
        """The collection's current latest-per-key view (base ⊎ pending,
        pending winning) in LOG_SCHEMA; pending rows carry the seqs the
        next flush would give them.

        This is the DataFrame handle analytics run against — the KV API
        below is point lookups on top of it.
        """
        with self._lock:
            if id not in self._hot_base:
                self.load_collection_if_not_present(id)
            base = self._hot_base[id]
            overlay = self._overlay_table(id, self._log_seq_floor(id))
        if isinstance(base, DataFrame):
            if not overlay.num_rows:
                return base
            pending = self.spark.createDataFrame(overlay, LOG_SCHEMA)
            return base.join(pending.select("key"), "key", "left_anti").unionByName(pending)
        if base is None:
            base = _ARROW_LOG_SCHEMA.empty_table()
        kept = base.filter(pc.invert(pc.is_in(base["key"], overlay["key"])))
        return self.spark.createDataFrame(pa.concat_tables([kept, overlay]), LOG_SCHEMA)

    # -- load / flush (promotion / demotion) ----------------------------

    def load_collection(self, id: str) -> None:
        """Cold → hot promotion (engine.go:100-109).

        A log of at most `materialize_threshold` rows is read and
        compacted on the driver into the hot dict, as the reference
        loads the whole collection into its hot map; no Spark job runs.
        A larger log becomes the cached compacted view, which
        materializes lazily on first action — the same read-through
        shape as the reference's load-on-miss."""
        if not self._cold_exists(id):
            raise _err_not_found_any(id)
        path = self._path(id)
        with self._lock:
            base = self._driver_log(path)
            if base is None:
                self._hot_base[id] = self._compacted(
                    self.spark.read.schema(LOG_SCHEMA).parquet(path)
                ).cache()
                self._hot_dict[id] = None
            else:
                self._hot_base[id] = base
                # to_numpy().tolist(): ~12x faster than to_pylist()
                # on string columns (no per-value arrow scalar).
                self._hot_dict[id] = dict(
                    zip(base["key"].to_numpy().tolist(), base["value"].to_numpy().tolist())
                )
            self._pending.setdefault(id, {})

    def load_collection_if_not_present(self, id: str) -> None:
        """engine.go:187-222: hot → no-op; cold → promote; neither →
        auto-create (if enabled) else error (engine.go:221)."""
        with self._lock:
            if id in self._hot_base:
                return
            if self._cold_exists(id):
                self.load_collection(id)
                return
            if self.auto_create:
                self._hot_base[id] = None
                self._hot_dict[id] = {}
                self._pending[id] = {}
                return
        raise CollectionNotFoundError(
            f"Unable to find a collection to load into hot storage with id [{id}]."
        )

    def flush_collection(self, id: str) -> None:
        """Hot → cold + evict (engine.go:111-126).

        Unlike the reference's whole-collection rewrite (cold.go:140),
        this appends only the pending delta as one log segment written
        on the driver — O(unflushed writes), not O(collection), and no
        Spark job. A collection with no log yet gets one even when it is
        empty, so it exists cold. Eviction unpersists a cached base
        (engine.go:121 ≙ unpersist)."""
        with self._lock:
            if id not in self._hot_base:
                raise _err_not_found_hot(id)
            path = self._path(id)
            pending = self._pending[id]
            if pending or not os.path.isdir(path):
                floor = self._log_seq_floor(id)
                _write_segment(path, self._overlay_table(id, floor))
                self._seq_floor[id] = floor + len(pending)
            self._evict(id)

    def _evict(self, id: str) -> None:
        base = self._hot_base.pop(id)
        if isinstance(base, DataFrame):
            base.unpersist()
        del self._pending[id]
        self._hot_dict.pop(id, None)

    def flush_all_collections(self) -> list[Exception]:
        """engine.go:128-137 — collects errors, never short-circuits."""
        errors: list[Exception] = []
        for id in self.list_hot():
            try:
                self.flush_collection(id)
            except Exception as exc:  # noqa: BLE001 — parity: collect all
                errors.append(exc)
        return errors

    def compact(self, id: str) -> None:
        """Maintenance: rewrite the cold log as its compacted form.

        The reference implicitly 'compacts' by rewriting the whole blob
        on every flush; here compaction is explicit and schedulable
        (the usual Spark/lakehouse pattern for append-logs). A log the
        driver may hold (see `load_collection`) is rewritten as one
        file with pyarrow; a larger one by a Spark job."""
        if not self._cold_exists(id):
            raise _err_not_found_any(id)
        path = self._path(id)
        with self._lock:
            # Crash-safe swap: every intermediate state is recoverable by
            # _recover() — tmp is only promoted once its _SUCCESS marker
            # exists, and the displaced original survives as .old until
            # the swap completes.
            tmp = path + ".compact.tmp"
            bak = path + ".compact.old"
            latest = self._driver_log(path)
            if latest is None:
                self._compacted(
                    self.spark.read.schema(LOG_SCHEMA).parquet(path)
                ).write.mode("overwrite").parquet(tmp)
            else:
                _write_segment(tmp, latest)
            os.rename(path, bak)
            os.rename(tmp, path)
            shutil.rmtree(bak)
            if id in self._hot_base:  # refresh the hot base
                base = self._hot_base[id]
                if isinstance(base, DataFrame):
                    base.unpersist()
                self.load_collection(id)

    # -- point reads / writes ------------------------------------------

    def read_key(self, id: str, key: str) -> str:
        """Read-through point lookup (engine.go:139-173).

        Hot overlay (read-your-writes) → cached base filter → cold
        promotion on miss → error parity: missing key in a hot
        collection vs missing collection are distinct (hot.go:43 vs
        engine.go:172).

        The check-promote-lookup runs under ONE lock hold (RLock, so
        the nested load_collection re-acquires): dropping the lock
        between promotion and lookup let a concurrent flush demote the
        collection in the gap, and the lookup then misread "no hot
        dict, no base" as key-missing while the value sat in the cold
        log — a lost read-your-write under write/flush concurrency
        (caught by tests/test_property_kv.py's 8-thread hammer). Only
        the large-collection base probe (a Spark job over the promote-
        time file snapshot, which any later append only extends) runs
        outside the lock."""
        with self._lock:
            if id not in self._hot_base:
                if self._cold_exists(id):
                    self.load_collection(id)  # engine.go:150-169: promote all
                else:
                    raise _err_not_found_any(id)
            pending = self._pending.get(id, {})
            if key in pending:
                return pending[key]
            hot = self._hot_dict.get(id)
            if hot is not None:
                if key in hot:
                    return hot[key]
                raise KeyNotFoundError(
                    f"No value found for key [{key}] in hot collection [{id}]."
                )
            base = self._hot_base.get(id)
        if base is not None:
            row = base.where(F.col("key") == F.lit(key)).select("value").first()
            if row is not None:
                return row[0]
        # hot.go:43
        raise KeyNotFoundError(
            f"No value found for key [{key}] in hot collection [{id}]."
        )

    def write_key(self, id: str, key: str, value: str) -> None:
        """Write-through-to-hot (engine.go:175-185): ensure loaded /
        auto-create, then upsert the overlay. Durability deferred to
        flush, matching the reference (engine.go:184 writes memory
        only). Ensure-loaded and the overlay upsert happen under one
        lock hold — a flush sneaking between them strands the write in
        an orphaned pending entry for a demoted collection."""
        with self._lock:
            self.load_collection_if_not_present(id)
            self._pending.setdefault(id, {})[key] = value

    # -- create / drop --------------------------------------------------

    def create_collection(self, id: str) -> None:
        """hot.go:62-72 — error if present in the hot tier."""
        with self._lock:
            if id in self._hot_base:
                # hot.go:65
                raise CollectionExistsError(
                    f"Collection already exists with id [{id}] in hot storage."
                )
            self._hot_base[id] = None
            self._hot_dict[id] = {}
            self._pending[id] = {}

    def drop_collection(self, id: str) -> None:
        """hot.go:74-85 — hot-tier eviction without persisting."""
        with self._lock:
            if id not in self._hot_base:
                raise _err_not_found_hot(id)  # hot.go:84
            self._evict(id)
