"""SparkSession factory + testdata catalog.

Scale notes (100 TB design): the session defaults below assume local[N]
testing but every knob is chosen for cluster sanity — AQE on (runtime
skew-join + partition coalescing), adaptive broadcast conversion, and
UTC session time so timestamp semantics are storage-stable across
engines and clusters.
"""

from __future__ import annotations

import atexit
import os
import stat
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Timestamp-type robustness: driver testdata has shipped both
# TIMESTAMP(NANOS) (Spark's vectorized reader rejects it -> read as
# epoch-nanos longs via legacy conf and convert) and
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark reads TIMESTAMP_NTZ).
# read_timestamps_normalized turns BOTH into plain TIMESTAMP (session TZ pinned UTC,
# so NTZ wall-clock values are preserved bit-for-bit) so downstream
# casts/watermarks/unix_micros never see an NTZ or long-typed column.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def get_spark(app_name: str = "makerdao-dw-spark", cpus: int | None = None) -> SparkSession:
    """Build a local session with scale-sane defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-neutral.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # GC reliable checkpoints once their RDD is unreferenced: iterative
        # operators (connected components, BFS) cut lineage with
        # df.checkpoint() ~2x per round — without the cleaner a multi-hour
        # 100 TB job accumulates unbounded checkpoint data in the dir.
        # Must be set at context build (ContextCleaner reads it once).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Janino-compiled classes are cached JVM-wide in an LRU of 100 by
        # default. The engine's interleaved mixes need more: one pass of
        # the 15 headline queries ~330 classes, one refresh step ~100,
        # and every registered query at sf0.001 3,385, so 4096 holds the
        # whole registry. Below the working set an LRU misses on every
        # access of a cyclic mix: each pass recompiled nearly all of it.
        # Static: read once, when the JVM first generates code.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    return builder.getOrCreate()


_PKG_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Local workers don't inherit the driver's sys.path mutations, and on a
    real cluster the code must travel anyway — this is the deployment-
    correct path for any UDF/mapInPandas stage that references the package.
    """
    key = id(spark.sparkContext)
    if key in _PKG_SHIPPED:
        return
    import shutil

    from pyspark import SparkFiles

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # The archive is built inside the context's own SparkFiles root: a
    # per-context dir (a fixed shared path races concurrent processes —
    # one truncates the zip while another's addPyFile copy is in flight)
    # that Spark deletes when the context stops, so no temp dir outlives
    # the session. addPyFile's fetch into that root finds the file
    # already in place; a cluster's executors fetch it through the
    # context's file server for as long as the context lives.
    stem = os.path.join(SparkFiles.getRootDirectory(), "makerdao_dw_spark_pkg")
    zip_path = shutil.make_archive(
        stem, "zip", root_dir=os.path.dirname(pkg_dir), base_dir=os.path.basename(pkg_dir)
    )
    spark.sparkContext.addPyFile(zip_path)
    _PKG_SHIPPED.add(key)


def configure(spark: SparkSession) -> None:
    """Apply runtime-settable semantics knobs to an externally-owned session.

    The driver harness owns its SparkSession; these confs are all
    runtime-mutable and keep query semantics deterministic (UTC
    timestamps match how the parquet testdata is interpreted by the
    DuckDB oracle, which is timezone-naive). query_scope() runs it once
    per top-level registered query (the registry wrapper enters it);
    the other entry points (ingest and streaming sources, the warehouse
    dashboard) run it themselves.

    Not here: the codegen cache size. It is a static conf, and Spark reads
    it JVM-wide once, so only get_spark sets it (4096 entries). A session
    get_spark does not build keeps Spark's 100: the driver's session
    handed to `__spark_entry__`, and tools/drive_entry.py's local[8]
    session. There a mix larger than 100 classes (one headline pass
    needs ~330) recompiles on every pass.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Generated classes are named after their whole-stage codegen stage by
    # default, and AQE numbers stages in the order it creates them, which
    # varies when a plan has independent stages: the same code under a new
    # name misses the codegen cache and compiles again. One name for all
    # makes the cache key the code alone.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    # Streaming plans can't use AQE partition coalescing, so the static
    # shuffle-partition count must be sane: match the session's
    # parallelism instead of the 200 default (which costs ~170 empty
    # state-store tasks per micro-batch on a small cluster).
    #
    # SPARK_GRAFT_SHUFFLE_PARTITIONS overrides (round-10 fix): every
    # registered query routes through here, so an unconditional reset
    # silently UNDID any partition count a bench harness set on the
    # session — the round-9 "256-partition" sf100 figures were actually
    # measured at 32 (ADVICE r9, high). A harness that wants a scaled
    # partition count must set the env var, not spark.conf (which this
    # function owns).
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle_parts:
        # validate HERE (ADVICE r10): an unvalidated value is accepted by
        # conf.set and only fails later inside a query (label_propagation's
        # int(conf.get(...)) or at plan time) far from the cause
        try:
            valid = int(shuffle_parts) > 0
        except ValueError:
            valid = False
        if not valid:
            raise ValueError(
                "$SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive "
                f"integer, got {shuffle_parts!r}"
            )
    else:
        shuffle_parts = str(max(spark.sparkContext.defaultParallelism, 8))
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)
    # Reliable-checkpoint dir for iterative operators (graph.py): an env
    # var so the driver harness's vanilla session can opt in without code.
    # Set HERE (the explicit session-configuration step), not inside the
    # operators — mutating global context state from a per-call helper
    # hides the side effect.
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir and not spark.sparkContext.getCheckpointDir():
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    ship_package(spark)


@contextmanager
def conf_override(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session confs for the duration of a with-block. On exit each
    key gets its prior value back, or is unset if it had none."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_MEM_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _mem_bytes(s: str) -> int:
    """Parse a JVM memory string ('8g', '512m'); bare numbers are bytes."""
    s = s.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    if s and s[-1] in _MEM_SUFFIX:
        return int(float(s[:-1]) * _MEM_SUFFIX[s[-1]])
    return int(s)


# How many execution-memory consumers a FUSED (exchange-elided) stage
# holds concurrently: eliminating exchanges packs sort + SMJ buffers +
# hash aggregate + shuffle-write sorter into ONE task, and memory that a
# many-exchange plan released at each boundary is now held at once (the
# round-10 lesson: bucketed LPA at sf100 died with
# SparkOutOfMemoryError at 37.5M rows/task where the naive
# pool-size/row-bytes math said ~38M should fit; 8-9M rows/task
# completed 33% faster). 4 matches the measured-safe regime on the 48g
# sf100 harness: (48g - 300m) * 0.6 / 32 cores / 4 ≈ 229 MB/task
# ≈ 9.5M rows of 24-byte agg state.
_FUSED_STAGE_CONSUMERS = 4


def rows_per_task_budget(
    spark: SparkSession, row_bytes: int, floor: int = 1_000_000
) -> int:
    """Rows of ~row_bytes per-task state one task can safely hold in a
    fused stage — the partition/bucket-count sizing unit for staged
    iterative queries (VERDICT r10 item 2: the former hard-coded
    `_LPA_VOTE_ROWS_PER_TASK = 8_000_000` literal encoded THIS node's
    per-task execution memory; this derives the same number from the
    session's memory config so the self-scaling is portable to any
    executor memory/core ratio).

    Derivation: per-task execution memory = usable heap (driver memory
    under a local[*] master — the executor IS the driver JVM; executor
    memory otherwise) minus Spark's 300 MB reserve, times
    spark.memory.fraction (default 0.6), divided by concurrent tasks
    (defaultParallelism locally; executor cores/task cpus on a
    cluster), divided by _FUSED_STAGE_CONSUMERS (see above). The floor
    keeps a tiny-heap session from exploding the partition count —
    below it, spilling a few extra MB beats thousands of buckets."""
    sc = spark.sparkContext
    conf = sc.getConf()
    if sc.master.startswith("local"):
        heap = conf.get("spark.driver.memory", "1g")
        slots = max(sc.defaultParallelism, 1)
    else:
        heap = conf.get("spark.executor.memory", "1g")
        cores = int(conf.get("spark.executor.cores", "1"))
        task_cpus = int(conf.get("spark.task.cpus", "1"))
        slots = max(cores // task_cpus, 1)
    usable = max(_mem_bytes(heap) - 300 * (1 << 20), 1 << 20)
    fraction = float(conf.get("spark.memory.fraction", "0.6"))
    per_task = usable * fraction / slots / _FUSED_STAGE_CONSUMERS
    return max(floor, int(per_task // row_bytes))


def pandas_group_buckets(spark: SparkSession) -> int:
    """Bucket count for the coarse-bucketed pandas group APIs
    (GROUPED_MAP / cogroup applyInPandas): queries key the pandas call
    on pmod(hash(key), n_buckets) and vectorize every real key inside
    the bucket, so n_buckets trades per-group fixed cost against
    scheduling grain. Each GROUP pays a fixed Arrow flush/serialization
    round on top of the Python call (measured r11 on
    cogroup_order_event_stats at sf0.1/32 cores: 256 buckets 5.1 s,
    64 buckets 1.8 s, 32 buckets 1.2 s — identical results), so the
    right count is the session's shuffle-partition count: one
    vectorized call per task slot, growing with the cluster via the
    SPARK_GRAFT_SHUFFLE_PARTITIONS contract rather than a constant
    tuned for either local mode or a cluster. Results are bucket-count
    invariant by construction (the pandas bodies do per-key vectorized
    work; a hot key lands in one call at any count)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


# Resolved base relations are cached per session (see load_table):
# entries live in this attribute of the SparkSession object itself, so
# they die with the session. A module-level WeakKeyDictionary keyed on
# the session would never let go of it — every cached DataFrame holds
# a strong reference back to its session.
_TABLE_CACHE_ATTR = "_makerdao_table_cache"
# Entries per session, oldest evicted first: the testdata catalog needs
# at most 10 tables x 2 spread modes per sf dir, and a test run over
# many tmp dirs must not grow the dict without bound.
_TABLE_CACHE_MAX = 64
# Guards the relation cache and the lifecycle state below (every
# QueryScope's lists and _SCOPES).
_LOCK = threading.RLock()


def _input_signature(path: str) -> tuple | None:
    """Cheap on-disk identity of a table input, compared on every cached
    load: (inode, size, mtime_ns, ctime_ns) of a single file; for a
    directory the sorted (relative path, inode, size, mtime_ns,
    ctime_ns) of every data file under it (Spark's hidden-file rule:
    names starting with "_" or "." are skipped). A rewrite, an added or
    a removed file changes it; ctime also catches a same-size copy that
    preserved the old mtime (cp -p).
    None when the path cannot be stat'ed (missing, or a URI such as
    s3a://): such loads bypass the cache.
    input_bytes() sizes a table from the same walk, so the cache key
    and the size agree on which files make up a table."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        sig = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for n in files:
                if n.startswith(("_", ".")):
                    continue
                f = os.path.join(root, n)
                fs = os.stat(f)
                sig.append((os.path.relpath(f, path), fs.st_ino, fs.st_size,
                            fs.st_mtime_ns, fs.st_ctime_ns))
        return tuple(sorted(sig))
    except OSError:
        return None


def _sig_bytes(sig: tuple) -> int:
    """Data bytes an _input_signature covers: the file's size, or the
    sum over a directory's data files."""
    if not sig or isinstance(sig[0], tuple):
        return sum(entry[2] for entry in sig)
    return sig[1]


def input_bytes(sf_dir: str, table: str) -> int | None:
    """On-disk size of a table: a single parquet file's size, or the sum
    of a part-file directory's data files (recursive, Spark's hidden-file
    rule, the files _input_signature walks). None when the path cannot
    be stat'ed; each scale gate picks its own answer for that case."""
    sig = _input_signature(os.path.join(sf_dir, f"{table}.parquet"))
    return None if sig is None else _sig_bytes(sig)


def read_timestamps_normalized(
    spark: SparkSession, name: str, read: Callable[[], DataFrame]
) -> DataFrame:
    """Run `read`, a batch or streaming parquet read of testdata table
    `name`, with every timestamp column surfacing as plain TIMESTAMP
    (see _NANO_TS_COLUMNS). The confs are set on the session before the
    read, so a relation read here keeps reading under them."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Micros-NTZ parquet must surface as plain TIMESTAMP at the SCAN (not
    # via a post-read cast, which would block predicate pushdown on the
    # column). With inference off, isAdjustedToUTC=false micros reads as
    # TimestampType directly; session TZ is UTC so wall-clock values match
    # what the DuckDB oracle reads.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = read()
    for c in _NANO_TS_COLUMNS.get(name, ()):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    # Belt-and-braces for any other reader path that still yields NTZ.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load a testdata table.

    spread=True round-robins the rows across the session's parallelism
    before CPU-heavy stages, when the scan cannot split the input by
    itself (_scan_splits). The caller decides: no rule read from the
    footer alone picks the right queries (ROADMAP D8).

    The resolved relation is cached per session, keyed by (absolute
    path, spread); each entry carries the input's on-disk
    signature (_input_signature) and is rebuilt when that changed. A
    hit skips the schema-inference job of spark.read.parquet, the
    footer probe and read_timestamps_normalized (whose confs the miss
    that built the entry set on this session). Only the lazy relation is
    cached, never results: nothing here persists or collects it, so
    every query still scans the current files. Paths that cannot be
    stat'ed (URIs) always take the uncached path.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # taken BEFORE the read: a file replaced mid-read leaves a stale
    # signature, so the next load misses instead of trusting the entry
    sig = _input_signature(path)
    key = (os.path.abspath(path), spread)
    if sig is not None:
        with _LOCK:
            hit = spark.__dict__.get(_TABLE_CACHE_ATTR, {}).get(key)
        if hit is not None and hit[0] == sig:
            return hit[1]
    df = read_timestamps_normalized(spark, name, lambda: spark.read.parquet(path))
    # spread exists to parallelize inputs the SCAN cannot split (the
    # testdata ships single-file single-row-group tables). When the
    # input is already a multi-file directory with at least as many
    # files as cores, the scan parallelizes by itself and the
    # round-robin exchange is a pure extra shuffle of the whole table —
    # measured at sf10 (28-file lineitem): q1 9.7 s -> 15.0 s with an
    # unconditional spread (r11). Gate on the split count so the same
    # query code is optimal at every scale.
    if spread and _scan_splits(spark, path, sig) < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    if sig is not None:
        with _LOCK:
            entries = spark.__dict__.setdefault(_TABLE_CACHE_ATTR, {})
            entries.pop(key, None)
            entries[key] = (sig, df)
            while len(entries) > _TABLE_CACHE_MAX:
                del entries[next(iter(entries))]
    return df


def _scan_splits(spark: SparkSession, path: str, sig: tuple | None) -> int:
    """Lower bound on the scan's split count: the number of data files
    in a directory (each file is at least one split), taken from its
    _input_signature `sig` (None: unknown, so 1). For a SINGLE
    file, Spark cuts the file into byte ranges of maxSplitBytes
    (FilePartition.maxSplitBytes: min(maxPartitionBytes,
    max(openCostInBytes, bytes per core))) and each range reads the
    row groups whose midpoint it holds, so the count is
    min(row groups, ceil(size / maxSplitBytes)), with the row-group
    count read from the parquet footer (one metadata fetch, no data
    pages). A big file with many row groups splits on its own, so
    spreading it would add a pure extra shuffle (VERDICT r11 item 8);
    a small file with many tiny row groups is ONE split and still
    needs the spread."""
    if sig is None:
        return 1
    if os.path.isdir(path):
        return max(len(sig), 1)
    size = _sig_bytes(sig)
    try:
        import pyarrow.parquet as pq

        row_groups = pq.ParquetFile(path).metadata.num_row_groups
    except Exception:
        # unreadable footer / pyarrow absent: the conservative answer
        # is 1 (spread) — a needless exchange beats a one-core scan
        return 1
    max_part = _mem_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    open_cost = _mem_bytes(spark.conf.get("spark.sql.files.openCostInBytes"))
    per_core = (size + open_cost) // max(spark.sparkContext.defaultParallelism, 1)
    split_bytes = max(min(max_part, max(open_cost, per_core)), 1)
    return max(min(row_groups, -(-size // split_bytes)), 1)


class QueryScope:
    """What one top-level registered query pinned, and its release.

    `frames` are the DataFrames materialize()/materialize_lazy()
    persisted; `dirs` are the (staged dir, catalog table or None) pairs
    stage()/stage_bucketed() wrote. query_scope() opens one scope per
    top-level query on the calling thread and releases it on that
    thread's later entries (see there). The scope keeps the session it
    was created with: the catalog DROP of a bucketed stage runs on it."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.frames: list[DataFrame] = []
        self.dirs: list[tuple[str, str | None]] = []

    def _pin(self, attr: str, item) -> None:
        with _LOCK:
            getattr(self, attr).append(item)
            _SCOPES.add(self)

    def drop(self, *dfs: DataFrame) -> None:
        """Unpersist these frames now instead of at the next entry — for
        a query that stage()d a checkpoint and no longer needs the
        upstream working set (its cache blocks and the shuffle files its
        lineage pins). A straggler read only costs recompute."""
        ids = {id(df) for df in dfs}
        with _LOCK:
            self.frames = [df for df in self.frames if id(df) not in ids]
        _unpersist(dfs)

    def release(self) -> None:
        """Unpersist every frame, delete every staged dir and drop its
        catalog table. An entry whose DROP failed on a still-usable
        session stays in `dirs` for the next sweep (a popped entry would
        leave a table over deleted files that nothing drops later)."""
        with _LOCK:
            frames, self.frames = self.frames, []
            doomed, self.dirs = self.dirs, []
        _unpersist(frames)
        kept = [e for e in doomed if not self._remove(*e)]
        with _LOCK:
            self.dirs.extend(kept)
            if not (self.frames or self.dirs):
                _SCOPES.discard(self)

    def _remove(self, d: str, table: str | None) -> bool:
        """Delete a staged dir — local paths via shutil, URI schemes
        (hdfs://, s3a://, file://) via the JVM's Hadoop FileSystem — and
        drop its catalog table. False when the DROP failed while the
        session is still usable; a stopped session's in-memory catalog
        died with it."""
        live = _session_usable(self.spark)
        done = True
        if table is not None and live:
            try:
                self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                # the session may have stopped mid-call, catalog and all
                done = not _session_usable(self.spark)
        if "://" not in d:
            import shutil

            shutil.rmtree(d, ignore_errors=True)
        elif live:
            try:
                jvm = self.spark.sparkContext._jvm
                hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
                path = jvm.org.apache.hadoop.fs.Path(d)
                path.getFileSystem(hconf).delete(path, True)
            except Exception:
                pass  # best-effort: a leaked DFS dir beats a crashed release
        return done


class _ThreadScopes(threading.local):
    """Per-thread lifecycle state. A thread-local, not a thread-ident
    tag: a new thread inherits nothing from an ended one whose ident it
    reuses."""

    scope: QueryScope | None = None  # the open scope
    prev: QueryScope | None = None  # the one before it
    inside = False  # a registered query is running on this thread


_THREAD = _ThreadScopes()
_SCOPES: set[QueryScope] = set()  # scopes still holding a frame or a dir


def _unpersist(dfs) -> None:
    for df in dfs:
        try:
            df.unpersist()
        except Exception:  # pragma: no cover — session already stopped
            pass


def _session_usable(spark: SparkSession) -> bool:
    """True when the session's JVM context is still alive (stop() nulls
    the underlying _jsc)."""
    try:
        return spark.sparkContext._jsc is not None
    except Exception:  # pragma: no cover — context already torn down
        return False


def current_scope(spark: SparkSession) -> QueryScope:
    """The calling thread's open scope: the running registered query's,
    or the last one's once it returned, so a caller's own materialize()
    or stage() outside any query (tests, tools) joins it. Opened on
    first use."""
    if _THREAD.scope is None:
        _THREAD.scope = QueryScope(spark)
    return _THREAD.scope


@contextmanager
def query_scope(spark: SparkSession) -> Iterator[QueryScope]:
    """The per-query entry: the registry wrapper runs every registered
    query inside it. A top-level entry on this thread deletes the staged
    dirs of the scope from two entries back, unpersists the previous
    scope's frames, configures the session and opens a fresh scope.
    Release happens at the NEXT entry, not at this one's exit, because
    the returned plan's consumers run after the query fn returns; staged
    dirs get one generation more than caches because a deleted staged
    file is a FileNotFound on re-read, not a recompute. A nested entry
    (a registered query invoked through REGISTRY from inside another)
    joins the open scope and does none of this, so the outer query's
    frames and dirs stay pinned mid-flight. Only this thread's scopes
    are released here: a scope whose thread has ended waits for
    release_all(), so a result handed to another thread stays
    readable."""
    t = _THREAD
    if t.inside:
        yield t.scope
        return
    if t.prev is not None:
        t.prev.release()
    if t.scope is not None:
        t.scope.drop(*t.scope.frames)
    configure(spark)
    t.prev, t.scope, t.inside = t.scope, QueryScope(spark), True
    try:
        yield t.scope
    finally:
        t.inside = False


def release_all() -> None:
    """Release every scope still holding a frame or a dir, whichever
    thread opened it: the interpreter-exit hook, registered below (the
    per-entry release never reaches the last query's dirs, nor an ended
    thread's). Not for use while another thread's query may still read
    its stages."""
    with _LOCK:
        scopes = list(_SCOPES)
    for s in scopes:
        s.release()


atexit.register(release_all)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute a multi-consumer intermediate ONCE (persist +
    count) — the house materialization for query-layer results with 2+
    consumers (AQE cannot dedupe a subtree once one consumer broadcasts
    it, so an unmaterialized 2-consumer frame runs its whole input
    pipeline twice).

    This replaced localCheckpoint(eager=True) in round 7: checkpoint
    blocks are pinned until the RDD is garbage-collected and thus
    ACCUMULATE across a long session — the driver runs every query in
    one session, and the pile-up is measurable (LPA at sf1: run 1
    24.6s -> run 3 53.8s with checkpoints; 22.7s -> 9.2s with
    persist + release). Cached blocks are LRU-evictable under memory
    pressure, and the frame is pinned in the thread's open QueryScope,
    which unpersists it at the thread's next registered-query entry
    (query_scope), so steady-state storage is one query's working set.

    NOT a replacement where the checkpoint is load-bearing:
    operators/graph.py's reliable-checkpoint path survives executor
    loss on a real cluster, so it keeps true checkpoints."""
    df = df.persist()
    df.count()
    current_scope(df.sparkSession)._pin("frames", df)
    return df


def materialize_lazy(df: DataFrame) -> DataFrame:
    """persist + scope registration WITHOUT the eager count — for a
    multi-consumer intermediate whose consumers run strictly
    sequentially anyway (e.g. the anchor then the step executions of a
    recursive CTE, r11): the first consumer builds the cache, later
    ones read it, and skipping the forcing count() saves one full pass
    over the input. NOT for frames a broadcast consumer races to build
    (materialize()'s docstring case) — there the eager count is the
    point. Same QueryScope lifecycle."""
    df = df.persist()
    current_scope(df.sparkSession)._pin("frames", df)
    return df


def _staging_root(spark: SparkSession) -> str | None:
    """Resolve the shared staging root for stage() dirs, or None for the
    driver-local tempdir fallback (valid ONLY under a local[*] master —
    on a multi-node cluster executors write parquet partitions to THEIR
    OWN filesystems, so a driver-local path reads back missing data,
    exactly like sparkContext.setCheckpointDir's DFS requirement).

    The root is the checkpoint-dir contract's, under `_staging`:
      1. $SPARK_GRAFT_CHECKPOINT_DIR (the same dir the reliable-
         checkpoint path uses, so one env var provisions both)
      2. the context's checkpoint dir, if one was set (already DFS-valid)
    """
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt:
        return ckpt.rstrip("/") + "/_staging"
    ckpt = spark.sparkContext.getCheckpointDir()
    if not ckpt:
        return None
    root = ckpt.rstrip("/") + "/_staging"
    # getCheckpointDir renders LOCAL dirs as file:/... URIs — normalize
    # those to plain paths so os.makedirs/shutil see a filesystem path.
    # Only this derived source is normalized: a URI in the env var (any
    # scheme incl. file://) is honored verbatim and handled by the
    # Hadoop-FileSystem branch of stage()/QueryScope._remove — exactly
    # the code path an object-store root (s3a://, hdfs://) takes on a
    # real cluster.
    if root.startswith("file:") and "://" not in root:
        from urllib.parse import urlparse

        root = urlparse(root).path or root[len("file:"):]
    return root


def _new_staged_dir(
    spark: SparkSession, name: str, caller: str, table: str | None = None
) -> str:
    """Create a staged dir under _staging_root() and pin it (and its
    catalog table, if any) in the thread's open QueryScope before the
    caller writes into it, so a failed write is still cleaned up. The
    driver-local tempdir fallback is refused off a local[*] master."""
    import tempfile
    import uuid

    root = _staging_root(spark)
    if root is None:
        master = spark.sparkContext.master
        if not master.startswith("local"):
            raise RuntimeError(
                f"session.{caller}() needs a SHARED staging root on a cluster "
                f"(master={master!r}): set $SPARK_GRAFT_CHECKPOINT_DIR or a "
                "checkpoint dir — a driver-local temp path would silently "
                "drop executor-written partitions on read-back"
            )
        d = tempfile.mkdtemp(prefix=f"spark_graft_{name}_")
    else:
        d = root.rstrip("/") + f"/spark_graft_{name}_{uuid.uuid4().hex}"
        if "://" not in d:
            os.makedirs(d, exist_ok=True)
    current_scope(spark)._pin("dirs", (d, table))
    return d


def stage(df: DataFrame, name: str = "stage") -> DataFrame:
    """HARD lineage cut for shuffle-heavy iterative queries: write `df`
    to a session-scoped temp parquet, read it back, drop what the JVM
    no longer needs.

    materialize() (persist) keeps the FULL upstream lineage alive for
    eviction safety, which pins every upstream shuffle file on disk for
    the rest of the query — for the two shuffle-heavy iterative queries
    (label propagation, prefix-filter Jaccard) that pinned temp is the
    single-node disk ceiling at sf100 (~60 GB measured linear in round
    8 vs 59 GB free). stage() replaces the lineage with a parquet scan;
    once the caller drops its references to the pre-stage frames, the
    upstream ShuffleDependencies become JVM-garbage and the
    ContextCleaner deletes their files MID-QUERY (gc_hint() nudges).
    Peak scratch becomes max-over-stages instead of sum-over-stages —
    exactly how a multi-stage production pipeline bounds per-executor
    scratch (checkpoint + truncate per round).

    Cost: one parquet write+read of the staged frame (snappy, columnar
    — a few % of the shuffle volume it releases). The dir is pinned in
    the thread's open QueryScope and lives for TWO top-level query
    entries on that thread (one release-cycle longer than caches): a
    deleted stage file would be a FileNotFound on re-read, not a
    recompute, so the lifecycle is deliberately one generation more
    conservative than unpersist.

    Placement (round 10): dirs root at _staging_root() — a shared
    location from the checkpoint-dir contract
    ($SPARK_GRAFT_CHECKPOINT_DIR or the context's checkpoint dir). On a
    MULTI-NODE cluster a shared root is REQUIRED (executors write
    partitions to their own filesystems; a driver-local path reads back
    partial data) — exactly setCheckpointDir's rule, enforced here: the
    driver-local tempdir fallback is only taken under a local[*]
    master. Dirs still pinned at interpreter exit are removed there
    (release_all, atexit) so long driver sessions don't leak."""
    spark = df.sparkSession
    path = _new_staged_dir(spark, name, "stage") + "/data"
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def stage_bucketed(
    df: DataFrame, key: str, name: str = "stage", n_buckets: int | None = None
) -> DataFrame:
    """stage() variant that writes the checkpoint as a BUCKETED catalog
    table: the same hard lineage cut, plus every later join/groupBy ON
    THE BUCKET KEY plans with the staged side's exchange ELIDED
    (HashPartitioning(key, n_buckets) is trusted from the layout, and
    the single sorted file per bucket elides the SMJ sort too).

    This is the iterative-query idiom at 100 TB: an edge table consumed
    K times per round pays its partitioning shuffle ONCE at stage time
    instead of K times per round — for label propagation it elides the
    arc-side exchange of every vote round (operators/graph.py).
    repartition(n, key) before the write yields exactly one file per
    bucket (without it, every writer task emits a file per bucket:
    tasks x buckets files, and multi-file buckets lose the sort
    elision).

    n_buckets defaults to the session's shuffle-partition setting so a
    partition-count experiment (SPARK_GRAFT_SHUFFLE_PARTITIONS) scales
    the bucket layout with it. Same two-generation lifecycle and shared
    staging-root rules as stage(); the catalog entry is dropped with
    the files."""
    import uuid

    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tbl = f"spark_graft_staged_{name}_{uuid.uuid4().hex[:12]}"
    d = _new_staged_dir(spark, name, "stage_bucketed", tbl)
    (
        df.repartition(n_buckets, F.col(key))
        .write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", d + "/data")
        .saveAsTable(tbl)
    )
    return spark.table(tbl)


def gc_hint(spark: SparkSession) -> None:
    """Ask both runtimes to collect garbage so the ContextCleaner can
    delete shuffle files whose dependencies just became unreachable
    (see stage()). Best-effort; ~100 ms."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # pragma: no cover — session already stopped
        pass
