"""Loaders for the driver test tables.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
Loaded lazily; Catalyst prunes columns/pushes filters into the scan, so a
query touching 2 of 11 lineitem columns reads only those column chunks.
"""

from __future__ import annotations

import atexit
import glob as _glob
import os
import shutil as _shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from a3_fp_bigdata_spark.registry import stage

TABLES = (
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
)


#: Timestamp columns whose PHYSICAL parquet type has drifted across
#: driver testdata generations. Handling is SCHEMA-DRIVEN — we branch on
#: the type Spark actually loaded, never on an assumed physical type
#: (round 3 shipped broken because code assumed TIMESTAMP(NANOS)-as-long
#: while the data was timestamp[us]):
#:   - ``timestamp[us]`` (current driver data) -> Spark 4.x loads it as
#:     TIMESTAMP_NTZ (isAdjustedToUTC=false + inferTimestampNTZ): used
#:     as-is; DuckDB reads the same naive micros, values compare equal.
#:   - ``TIMESTAMP(NANOS)`` (legacy generations) -> readable only as
#:     long nanos via spark.sql.legacy.parquet.nanosAsLong; the LongType
#:     branch below widens nanos -> microsecond timestamps.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def widen_legacy_long_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Widen legacy nanos-as-long timestamp columns to TimestampType;
    leave native timestamp columns (NTZ or LTZ) untouched. Shared by the
    batch loader below and the streaming source (streaming/ingest.py) so
    both paths make the same schema-driven decision."""
    for col in cols:
        field = df.schema[col] if col in df.columns else None
        if field is not None and isinstance(field.dataType, T.LongType):
            # integer `div` keeps exactness (nanos exceed double's 2^53)
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
    return df

#: one warning per process when table() overrides a non-UTC timezone
_TZ_WARNED = False


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Plain parquet scan — the vectorized reader's
    native types flow through (the driver's DuckDB oracle reads the same
    footers); legacy nanos-as-long timestamp columns, if present, are
    widened to TimestampType (see _TS_COLS / widen_legacy_long_ts)."""
    # CONTRACT: reading through the engine pins the session to the
    # engine's timestamp semantics (UTC comparisons; legacy nanos
    # widened) — the driver's oracle compare depends on it. An
    # application that needs a different session timezone for its own
    # queries should not share a session with engine reads.
    # Two session-level self-heals, tried INDEPENDENTLY so one being
    # locked on an externally-built session can't silently skip the
    # other. Both are part of the engine's session contract (see
    # session.local_session, which sets them at build time).
    try:
        # Legacy-data compat only: lets a TIMESTAMP(NANOS) file load (as
        # long, widened below). A no-op against the current driver data,
        # whose timestamp[us] columns load natively as TIMESTAMP_NTZ.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf may be fixed on an externally-built session
    try:
        # registry determinism rules compare timestamps under UTC; a plain
        # session on a non-UTC host would otherwise collect TimestampType
        # shifted to local time while DuckDB returns stored naive micros.
        # Repinning a non-UTC timezone is a visible event, not a silent
        # one: warn once per process — AFTER the conf set, so a
        # warnings-as-errors filter can never skip the pin itself.
        # (conf.get returns the RESOLVED zone — JVM default included —
        # so the warning cannot tell 'explicitly set' from 'host
        # default'; the message is phrased accordingly.)
        current = spark.conf.get("spark.sql.session.timeZone", None)
        if current != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        if current not in (None, "UTC", "Etc/UTC", "GMT"):
            global _TZ_WARNED
            if not _TZ_WARNED:
                _TZ_WARNED = True
                import warnings

                warnings.warn(
                    "a3_fp_bigdata_spark.data.table(): pinning session "
                    f"timeZone to 'UTC' (was {current!r} — an explicit "
                    "setting or the host default; engine timestamp "
                    "contract, see module docstring). Use a separate "
                    "SparkSession for non-UTC application queries.",
                    stacklevel=2,
                )
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return widen_legacy_long_ts(df, _TS_COLS.get(name, ()))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` queries match the
    oracle's pre-registered DuckDB view names."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


#: Audit-scratch paths are PER-PROCESS (uid + pid in the path), not
#: fixed per uid. The oracle SQL strings embed the path when they are
#: built, and the driver/parity/pytest harnesses each run Spark AND
#: DuckDB in one process — so a process-unique path keeps the pair
#: consistent while making concurrent runs (pytest next to a parity
#: sweep — observed corrupting a fixed shared scratch mid-run in
#: round 9) physically unable to clobber each other. Cleanup: atexit
#: removes this process's dirs (run_scratch and scratch_dir alike); a
#: dead-pid prune at first use per name collects run_scratch dirs left
#: by crashed processes (atexit never ran).
_SCRATCH_RUN = f"uid{os.getuid()}_pid{os.getpid()}"
_RUN_SCRATCH_DIRS: list[str] = []
_PRUNED_NAMES: set[str] = set()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else — leave it
    return True


def run_scratch(name: str) -> str:
    """Per-process scratch dir with a stable name:
    ``$TMPDIR/a3_fp_{name}_uid{uid}_pid{pid}``. Same path for the
    Spark writer and the DuckDB oracle inside one process; distinct
    across processes. Registered for atexit removal; stale siblings
    whose owning pid is dead are pruned on first use."""
    base = tempfile.gettempdir()
    if name not in _PRUNED_NAMES:
        _PRUNED_NAMES.add(name)
        pat = os.path.join(
            base, f"a3_fp_{name}_uid{os.getuid()}_pid*"
        )
        for old in _glob.glob(pat):
            try:
                pid = int(old.rsplit("_pid", 1)[1])
            except (IndexError, ValueError):
                continue
            if pid != os.getpid() and not _pid_alive(pid):
                _shutil.rmtree(old, ignore_errors=True)
    path = os.path.join(base, f"a3_fp_{name}_{_SCRATCH_RUN}")
    if path not in _RUN_SCRATCH_DIRS:
        _RUN_SCRATCH_DIRS.append(path)
    return path


def scratch_dir(prefix: str) -> str:
    """Fresh per-call temp dir (streaming stage/output/checkpoint dirs),
    registered for the same atexit removal as ``run_scratch``."""
    path = tempfile.mkdtemp(prefix=prefix)
    _RUN_SCRATCH_DIRS.append(path)
    return path


def read_stamped_scratch(spark: SparkSession, path: str) -> DataFrame:
    """Spark-side twin of the count-flavour oracle guard (see
    ``attested``) over an ``n_src``-stamped scratch: keep rows only
    when every row's stamp equals the actual row count AND the scratch
    holds exactly one distinct stamp, then drop the stamp. A torn read
    mixing rows from two generations fails loudly (zero rows) instead
    of silently passing mixed-generation bytes; the distinct-stamp half
    closes the coincidence where a surviving subset's total equals one
    generation's stamp (4 rows stamped 5 plus 1 row stamped 4 totals 5,
    ADVICE r11). The guard is one broadcast of a 1-row frame — no
    extra shuffle."""
    raw = spark.read.parquet(path)
    total = raw.agg(
        F.count("*").cast("long").alias("n_total_rows"),
        F.countDistinct("n_src").cast("long").alias("n_generations"),
    )
    return (
        raw.crossJoin(F.broadcast(total))
        .filter(
            (F.col("n_src") == F.col("n_total_rows"))
            & (F.col("n_generations") == F.lit(1))
        )
        .drop("n_src", "n_total_rows", "n_generations")
    )


def attest(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    stamp: DataFrame | None = None,
) -> DataFrame:
    """The audit-scratch protocol's Spark half: stamp ``df``'s rows,
    write them to ``run_scratch(name)`` and return a fresh read-back
    without the stamp columns. ``attested(name, ...)`` is the DuckDB
    half: the oracle reads the SAME bytes, so an engine-specific step
    (a hash, a sketch, a model score, a decoded pixel) is materialized
    once and everything downstream is re-derived independently by both
    engines.

    Two stamp flavours:

    - ``stamp`` = ``table_fingerprint(...)``'s 1-row (n_src, src_ck)
      frame of the source table. The oracle keeps rows only when both
      equal the fingerprint of ITS live view of that table, so scratch
      from a different sf (10x counts) or a regenerated same-
      cardinality corpus (checksum differs) yields an empty oracle side
      and a red mismatch, never a false pass.
    - ``stamp=None``: n_src = the frame's own count(*), for sources the
      oracle cannot read (fixture directories, streaming state, a
      holdout split). Both halves keep rows only when the stamp equals
      the row count and is the scratch's single distinct stamp
      (``read_stamped_scratch``), so a torn read of two generations
      disagrees loudly on either side.

    The write is ``repartition(1)``, not ``coalesce(1)``: coalesce pulls
    the single-partition constraint into the upstream stage and runs
    the whole producing plan in one task. The caller pins ``df`` when it
    is costly and also feeds the count stamp, and pins the read-back
    when it is referenced twice. Not cryptographic: a fingerprint
    scoped to stale/foreign scratch, not adversarial collisions."""
    path = run_scratch(name)
    counted = stamp is None
    if counted:
        stamp = df.agg(F.count("*").cast("long").alias("n_src"))
    df.crossJoin(F.broadcast(stamp)).repartition(1).write.mode(
        "overwrite"
    ).parquet(path)
    if counted:
        return read_stamped_scratch(spark, path)
    return spark.read.parquet(path).drop("n_src", "src_ck")


def attested(
    name: str, table: str | None = None, key: str | None = None
) -> str:
    """The audit-scratch protocol's DuckDB half (see ``attest``): one
    parenthesized FROM-item over ``run_scratch(name)``, guarded by
    ``fingerprint_where(table, key)`` or, with no table, by the count
    flavour's single-generation guard."""
    src = f"read_parquet('{run_scratch(name)}/*.parquet')"
    if table is None:
        guard = (
            f"n_src = (SELECT count(*) FROM {src})"
            f" AND 1 = (SELECT count(DISTINCT n_src) FROM {src})"
        )
    else:
        guard = fingerprint_where(table, key)
    return f"(SELECT * FROM {src} WHERE {guard})"


def _cleanup_run_scratch() -> None:
    while _RUN_SCRATCH_DIRS:
        _shutil.rmtree(_RUN_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_run_scratch)


#: Modulus for the content half of the audit-scratch fingerprint: keeps
#: sum(key % M) far from BIGINT overflow (~9e12 rows before wrap) while
#: computing identically in Spark and DuckDB (both use C-style % on
#: non-negative BIGINT keys).
FINGERPRINT_MOD = 1_000_003


def src_fingerprint(df: DataFrame, key_col: str) -> DataFrame:
    """1-row source fingerprint the audit-scratch protocol stamps on
    every scratch row: ``n_src`` = count(*) plus ``src_ck`` =
    sum(key % FINGERPRINT_MOD) over a bigint key column. The count
    alone separates the shipped sf tiers (10x apart), but a
    regenerated corpus at the SAME cardinality would slip past it —
    the content checksum closes that hole cheaply, and both halves
    compute identically in Spark and DuckDB (see
    ``fingerprint_where``). Not cryptographic: a fingerprint, scoped
    to catching stale/foreign scratch, not adversarial collisions."""
    return df.agg(
        F.count("*").cast("long").alias("n_src"),
        F.sum(F.col(key_col) % FINGERPRINT_MOD)
        .cast("long")
        .alias("src_ck"),
    )


def table_fingerprint(
    spark: SparkSession,
    sf_dir: str,
    table_name: str,
    key_col: str,
    table_fn=None,
) -> DataFrame:
    """Session-staged ``src_fingerprint`` over a named driver table: the
    1-row (n_src, src_ck) stamp is collected ONCE per (session,
    sf_dir, table, source-plan) and re-attached as a literal
    LocalRelation.

    r15 optimization (guide §2.4 — don't recompute what can't have
    changed): every audit-scratch write used to re-run the stamp's
    source scan + aggregate as the broadcast build of its crossJoin —
    18 call sites, one redundant full-table pass per write. The
    corpus snapshot is immutable within a session (and production
    stamps a snapshot once when it lands), so the fingerprint is
    session-constant by construction. This memoizes a 2-int STAMP,
    never query results. Two test-reality guards: ``table_fn`` lets
    call sites route through their MODULE-LOCAL ``table`` name, so
    monkeypatched corpora keep working (the edge-case suite patches
    D.table with synthetic docs over both fake and REAL sf dirs); and
    the memo key includes the source frame's ``semanticHash()``, so a
    patched frame can never poison — or be poisoned by — the real
    table's cached stamp. The bounded 1-row collect is the same class
    as the engine's other probes.

    Known limit (ADVICE r15): ``semanticHash()`` keys the PLAN, not
    the file bytes — rewriting the parquet at the same sf_dir path
    mid-session would reuse the stale stamp. The failure mode is loud
    (the oracle's ``fingerprint_where`` then matches zero scratch rows
    and the query goes red, never silently green), and in-session
    corpus immutability is this engine's documented contract; a flow
    that regenerates a corpus in place must call
    ``registry.release_stages()`` first."""
    src = (table_fn or table)(spark, sf_dir, table_name)

    def build() -> tuple[int, int]:
        row = src_fingerprint(src, key_col).first()
        return row["n_src"], row["src_ck"]

    n, ck = stage(
        "fingerprint", spark,
        (sf_dir, table_name, key_col, src.semanticHash()), build,
    )
    return spark.createDataFrame([(n, ck)], "n_src long, src_ck long")


def fingerprint_where(table_name: str, key_col: str) -> str:
    """The DuckDB WHERE fragment matching ``src_fingerprint``: filters
    scratch rows to those whose stamped (n_src, src_ck) equal the
    fingerprint of the oracle's LIVE view of ``table_name`` — stale
    scratch (different sf, regenerated same-cardinality corpus) yields
    an empty oracle side and a red mismatch, never a false PASS."""
    return (
        f"n_src = (SELECT count(*) FROM {table_name}) "
        f"AND src_ck = (SELECT CAST(sum({key_col} % {FINGERPRINT_MOD})"
        f" AS BIGINT) FROM {table_name})"
    )
