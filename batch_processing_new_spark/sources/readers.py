"""Sources: parquet/CSV/JSON readers plus ingest-order row-id minting.

The reference's data model is "a CSV addressed by URL, loaded whole into
pandas, with the integer file position as row identity" (reference
test.py:170, test.py:221 — see SURVEY.md §1.1). At scale the whole-file
driver load is the 100 TB blocker, so here ingest is a distributed
``spark.read`` and row identity is minted explicitly at ingest time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: Inferred-schema cache per (sf_dir, table): the catalog this engine
#: does not otherwise have. ``spark.read.parquet`` re-infers the schema
#: from file footers on EVERY call (~80 ms of driver time per call on
#: this host, measured round 12); with 200+ load_table call sites that
#: is pure per-query plan-construction overhead. Pinning the schema
#: after the first inference (``spark.read.schema(s).parquet`` — 15 ms)
#: is exactly the "pin the merged schema in a catalog and pass it
#: explicitly" move the 100 TB notes below prescribe. Process-local and
#: derived at runtime from the same files — no cross-run state; each
#: call still returns a FRESH DataFrame (fresh scan relation), so plan
#: shapes, self-join resolution, and results are unchanged.
#: Each entry carries the path's ``os.stat`` fingerprint (one ~2 µs
#: call), so a long-lived process re-infers the schema of a file that
#: was replaced under the same name; a path ``os.stat`` cannot see
#: (an object-store URI) keeps its first schema.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[tuple | None, T.StructType]] = {}


def _fingerprint(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _read_parquet_pinned(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    key = (sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    stamp = _fingerprint(path)
    hit = _SCHEMA_CACHE.get(key)
    if hit is None or hit[0] != stamp:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = (stamp, df.schema)
        return df
    return spark.read.schema(hit[1]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/pruning into it.

    ``events.ts`` has shipped in two parquet encodings across fixture
    generations: TIMESTAMP(NANOS) (readable only as raw int64 via
    ``nanosAsLong``, then truncated to micros — integer division, because
    2024-epoch nanos ≈ 1.7e18 exceeds double's 53-bit integer range) and
    plain TIMESTAMP(MICROS) (which Spark reads natively). We detect which
    one we got from the loaded schema and normalize both to
    micro-precision TIMESTAMP_NTZ — the exact representation DuckDB uses,
    so oracle comparisons agree.
    """
    if name == "events":
        # NOTE: session-wide side effect, deliberately NOT restored —
        # the returned DataFrame's scan is lazy and consults this conf
        # at execution, so restoring it here would corrupt the read.
        # The flag only changes how TIMESTAMP(NANOS) columns decode
        # (raw int64 instead of an error); other fixture tables have
        # none, and _normalize_ts handles both decodings.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet_pinned(spark, sf_dir, name)
        return df.withColumn("ts", _normalize_ts(df.schema["ts"].dataType))
    return _read_parquet_pinned(spark, sf_dir, name)


def _normalize_ts(dtype: T.DataType):
    """Normalize an events.ts column (long nanos or native timestamp) to
    micro-precision TIMESTAMP_NTZ."""
    if isinstance(dtype, T.LongType):
        return F.expr("timestamp_micros(ts DIV 1000)").cast("timestamp_ntz")
    return F.col("ts").cast("timestamp_ntz")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


#: DuckDB twin of load_vectors() — inline wherever an oracle reads the
#: embeddings table, so both sides share ONE vector-validity boundary.
VECTORS_SQL = (
    "(SELECT * FROM embeddings "
    "WHERE embedding IS NOT NULL AND len(embedding) > 0)"
)


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with invalid vectors excluded (NULL or
    zero-length embedding) — the single load boundary for every
    similarity/clustering consumer.

    A NULL embedding crashes numpy-side kernels (``np.stack(None)``),
    a zero-length one divides cosine by a zero norm (ANSI: job abort),
    and the SQL oracles' NULL-propagating arithmetic silently drops or
    NULLs the same rows — three different behaviors for one bad row
    (tools/poison_sweep.py findings: q41/q42/q93/q113/q114/q120).
    Excluding them HERE, with the identical predicate inlined in every
    oracle (VECTORS_SQL), gives one defined semantics: an invalid
    vector does not participate in vector ops.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return e.where(F.col("embedding").isNotNull() & (F.size("embedding") > 0))


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV source (reference test.py:170 ``pd.read_csv``), distributed.

    Schema-on-read is preserved (inferSchema when none given) but an
    explicit schema skips the extra inference pass — at 100 TB always pass
    one. PERMISSIVE mode mirrors pandas' tolerance for ragged rows.
    """
    reader = spark.read.option("header", str(header).lower()).option(
        "mode", "PERMISSIVE"
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


#: The input partition id column of the row-id pass's pinned blocks.
_PIN_COL = "_ingest_pid"


def with_ingest_row_id(df: DataFrame, col_name: str = "_row_id") -> DataFrame:
    """Mint a contiguous 0-based ingest-order row id (see
    ``with_ingest_row_id_and_count``, which also returns the row total)."""
    return with_ingest_row_id_and_count(df, col_name)[0]


def with_ingest_row_id_and_count(
    df: DataFrame, col_name: str = "_row_id"
) -> tuple[DataFrame, int]:
    """Mint a contiguous 0-based ingest-order row id; also return the
    input's row total, which the per-partition counts below already
    carry to the driver (no extra Spark job).

    Reference parity: the pandas integer index is the reference's row
    identity and its output-order contract (test.py:103, test.py:221).
    Two-pass zipWithIndex SHAPE, kept entirely in the JVM: pin the
    input's partitioning (lazy localCheckpoint), count rows per
    partition (one tiny collect of P longs), prefix-sum the offsets on
    the driver, then ``offset[pid] + local_index`` where local_index is
    the low 33 bits of ``monotonically_increasing_id`` (its documented
    layout: partition id << 33 | per-partition row counter, counter
    assigned in iteration order — the same order zipWithIndex used).
    No global sort, no single-partition funnel, scale-safe; the offsets
    are looked up by partition id in an array literal, so the data rows
    never move or cross the Python boundary. The previous
    implementation was ``RDD.zipWithIndex`` + ``createDataFrame``,
    which pickled EVERY ROW out to Python workers and parsed it back —
    two full non-Arrow serialization passes that dominate the
    enrichment pipeline's non-LLM cost at any scale. Ids are identical:
    both schemes number partitions in index order and rows in
    iteration order over the same pinned blocks. (Bound: 2^33 rows per
    partition — a >1 TiB single partition would be a partitioning bug
    long before the counter wraps.)

    Use it only when ingest-order identity is genuinely required (the
    enrichment pipeline); analytical queries should key on natural columns.
    """
    if col_name in df.columns:
        raise ValueError(f"column {col_name!r} already exists")
    pid_col = _PIN_COL
    pinned = df.withColumn(
        pid_col, F.spark_partition_id()
    ).localCheckpoint(eager=False)
    counts = dict(
        pinned.groupBy(pid_col).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    # dense over pids 0..max: an empty partition takes the running offset
    offsets, acc = [], 0
    for pid in range(max(counts, default=0) + 1):
        n = counts.get(pid, 0)
        if n >= (1 << 33):
            # the low-33-bit local index would bleed into the partition
            # bits and ids silently corrupt — fail loud instead (the
            # counts are already on the driver, the check is free)
            raise ValueError(
                f"with_ingest_row_id: partition {pid} holds "
                f"{n} rows (>= 2^33); repartition the input first"
            )
        offsets.append(acc)
        acc += n
    # the offsets ride in the plan as one array literal, so the id is a
    # plain projection over the pinned blocks: no join, no extra job.
    # Empty input needs no special case (no row looks an offset up) and
    # keeps the same id field as any other input
    offset = F.element_at(
        F.array(*[F.lit(o).cast(T.LongType()) for o in offsets]),
        F.col(pid_col) + 1,
    )
    local_idx = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    return (
        pinned.withColumn(col_name, offset + local_idx).drop(pid_col),
        acc,
    )


def release_row_id_pin(df: DataFrame) -> None:
    """Drop the input blocks that ``with_ingest_row_id`` pinned under
    ``df`` (its lazy ``localCheckpoint``), which otherwise stay until
    JVM GC. Call it after ``df``'s last action: reading ``df`` afterwards
    raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD" and (
            _PIN_COL in leaf.schema().fieldNames()
        ):
            leaf.rdd().unpersist(False)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """JSON-lines source. Explicit schema skips the inference pass (at
    100 TB always pass one — inference reads the data twice); PERMISSIVE
    mode lands malformed lines as nulls instead of failing the job,
    mirroring read_csv's tolerance."""
    reader = spark.read.option("mode", "PERMISSIVE")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — same columnar pushdown/pruning properties as the
    parquet scan (Spark ships both natively); exists so corpora landed
    by Hive/Trino-era pipelines ingest without a rewrite."""
    return spark.read.orc(path)


def read_evolved_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan across files written under DIFFERENT schema versions
    (columns added over time): ``mergeSchema`` unions the file footers
    into one schema and fills absent columns with NULL per file.

    The read-side half of schema evolution every long-lived corpus
    needs — yesterday's files stay valid when today's writer adds a
    column. Costs one footer pass over the files (not the data); for
    100 TB directories pin the merged schema in a catalog instead and
    pass it explicitly.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


#: fan_out sizing: estimated plan bytes per spread task. Calibrated by
#: measurement at sf0.1 (TUNING.md, "Scan-stage parallelism"): per-task
#: fixed cost on this class of host is ~15-20 ms of scheduling plus
#: ~100-500 ms of executor run overhead, so tiny inputs must NOT be cut
#: into core-count slivers — a 0.25 MiB projection in 32 tasks spends
#: ~30x more wall in per-task overhead than in its own expression work.
#: It only shapes SMALL inputs: at 100 TB every scan already has
#: >= cores partitions and fan_out no-ops entirely.
FANOUT_TASK_BYTES = 32768


#: Width-decision cache keyed on the ANALYZED plan's semanticHash (plus
#: the sizing knobs): fan_out / adaptive_width probe the Catalyst size
#: estimate and the source RDD's partition count, which costs a full
#: optimize + physical-planning pass per call — per-query CONSTRUCTION
#: latency paid by every driver on every run (measured round 12:
#: ~30-90 ms per fan_out site on the bench host). The analyzed plan
#: already exists (Datasets analyze eagerly), so the hash is one cheap
#: JVM call, and two semantically-equal plans get equal widths — the
#: correct outcome, since values are width-independent everywhere by
#: the engine's determinism discipline (tools/determinism_check.py).
#: Caches a partitioning DECISION, never data or results; process-local.
#: A file replaced under the same path can leave a stale entry; that
#: changes only the partitioning, never a value, so entries carry no
#: file fingerprint (unlike _SCHEMA_CACHE).
_WIDTH_CACHE: dict[tuple, tuple[int, int]] = {}


def _plan_key(df: DataFrame, *knobs) -> tuple | None:
    try:
        return (
            df._jdf.queryExecution().analyzed().semanticHash(),
            *knobs,
        )
    except Exception:
        return None  # non-classic backend: fall back to live probing


def fan_out(df: DataFrame, task_bytes: int | None = None) -> DataFrame:
    """Spread a small-file scan across cores before an expression-heavy
    narrow stage — sized by DATA, capped by cores.

    Spark chains projections/explodes into the scan stage, and a scan's
    parallelism is bounded by parquet row groups — a single-row-group
    file runs its whole downstream expression chain on ONE task no
    matter how many cores exist (measured 2.6x on the shingle stage at
    sf0.1). This helper pays one tiny exchange (the projected columns
    only) to unlock execution width.

    Width is ``ceil(estimated plan bytes / FANOUT_TASK_BYTES)`` capped
    at ``defaultParallelism`` (guide §2: derive partitioning
    from input size, never a core-count constant): a hard
    ``repartition(cores)`` is an AQE-opaque user shuffle, and at small
    inputs it pays ~cores x the per-task fixed overhead for microscopic
    slices (measured at sf0.1: the q37 shingle stage at 32 fixed tasks
    ran 2.3x slower than data-sized width; a warm no-op Python stage
    costs 0.37 s at 2 tasks vs 0.85 s at 32). No-op when the scan
    already has enough partitions — at 100 TB real inputs have
    thousands of row groups and this never fires; it's the small-input
    guard, so the knob only tunes small-input behavior. Values are
    width-independent everywhere by the engine's determinism discipline
    (tools/determinism_check.py runs every query at two partitionings).

    ``task_bytes`` overrides the default slice size per call site:
    Python-kernel consumers (mapInPandas/pandas UDF over vectors) pay a
    far higher per-task boundary cost than JVM expression chains, so
    they pass a coarser slice (measured sweep, TUNING.md "Retired
    one-shot tools": q113's Lloyd passes run ~35 percent faster at
    128 KiB/task than at the 32 KiB text default; the text band
    inverts).
    """
    key = _plan_key(
        df,
        "fan_out",
        df.sparkSession.sparkContext.defaultParallelism,
        task_bytes,
    )
    hit = _WIDTH_CACHE.get(key) if key is not None else None
    if hit is None:
        target = adaptive_width(df, task_bytes=task_bytes)
        # _jdf.rdd(), not df.rdd: the Python RDD wrapper adds a
        # serializer handshake on top of the same physical planning
        src = df._jdf.rdd().getNumPartitions()
        if key is not None:
            _WIDTH_CACHE[key] = (target, src)
    else:
        target, src = hit
    if src < target:
        return df.repartition(target)
    return df


def adaptive_width(
    df: DataFrame,
    multiple: int = 1,
    task_bytes: int | None = None,
    floor: int = 1,
) -> int:
    """Data-derived partition count: ``ceil(estimated plan bytes /
    task_bytes)`` clamped to ``[floor, defaultParallelism * multiple]``.
    Shared by fan_out and the explicit repartition sites (q112's range
    shard) so every small-input width decision uses one rule. Falls
    back to the core-count cap when Catalyst has no estimate (RDD-backed
    plans report Long.Max)."""
    sc = df.sparkSession.sparkContext
    cap = sc.defaultParallelism * multiple
    per_task = task_bytes or FANOUT_TASK_BYTES
    # cap is part of the key: sessions with different core counts in
    # one process (tests) must not share width decisions
    key = _plan_key(df, "width", cap, per_task, floor)
    hit = _WIDTH_CACHE.get(key) if key is not None else None
    if hit is not None:
        return hit[0]
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        est = -1
    if est < 0 or est >= (1 << 62):
        width = max(floor, cap)  # no/degenerate estimate: previous behavior
    else:
        width = max(floor, min(cap, -(-est // per_task)))
    if key is not None:
        _WIDTH_CACHE[key] = (width, -1)
    return width


#: Python-kernel fan_out slice (see fan_out docstring): coarser than the
#: JVM-expression default because each Python task pays the worker
#: handshake + Arrow round-trip regardless of slice size.
FANOUT_PY_TASK_BYTES = 131072


def pin_before_sort(df: DataFrame) -> DataFrame:
    """Materialize a narrow expensive chain ONCE ahead of a final
    ``orderBy``.

    A range-partitioned sort computes its partition bounds by SAMPLING
    its child, then executes the child again for the real shuffle — so
    everything between the last exchange and the sort runs TWICE
    (measured at sf0.1: q30's enrichment mapInPandas appeared as two
    ~0.56 s Python stages, q83's gram chain as a 5.6 s + 20.6 s stage
    pair, q113's final assignment as 9.9 s + 15.5 s). For a chain that
    is cheap to recompute the double execution is harmless; for a
    Python pass or a heavy expression chain it doubles the dominant
    stage. ``localCheckpoint(eager=False)`` pins the chain's output in
    block storage so the sampling pass and the shuffle both read blocks
    — the chain runs once, at the cost of caching one output-sized
    DataFrame (bounded: callers pin final query outputs, never wide
    intermediates). Lazy, so no extra job: the sampling pass itself
    triggers the materialization.
    """
    return df.localCheckpoint(eager=False)
