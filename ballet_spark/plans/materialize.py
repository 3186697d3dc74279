"""Resumable, checkpointed feature materialization with lineage.

North-rule requirement: "every feature materialization is resumable
from snapshot checkpoints with per-partition lineage rows (feature id,
input snapshot, row counts, digest)". Generalizes the reference's
git-based provenance (ChangeCollector, ballet/validation/common.py:
129-257) and ``save_features`` sinks (ballet/util/io.py:60-117) to a
distributed, restartable protocol:

- work is split into ``n_units`` deterministic **entity-hash units**
  (``pmod(xxhash64(url), n_units)``) — every unit holds the COMPLETE
  history of its urls, so windows/as-of computed per unit are exact;
- all pending units are written in ONE job (a partitioned write by
  ``unit`` — the source is scanned once per backfill, never once per
  unit) with **dynamic partition overwrite**, so a recompute of a unit
  replaces its directory instead of appending a duplicate copy
  (idempotent, crash-safe: a failure before the job commit leaves no
  partial unit, a failure between the write commit and the lineage
  append merely recomputes-and-overwrites those units on restart);
- per-unit row counts and digests are collected from the SAME job via
  ``observe()`` aggregates on the DataFrame being written — no re-read
  of the output for stats;
- each completed unit gets ONE lineage row ``(feature_set,
  input_snapshot, unit, row_count, digest, completed_at_job)``;
- on restart, units already present in the lineage table for the same
  ``(feature_set, input_snapshot)`` are skipped (anti-join of pending
  units against lineage);
- the digest is an order-insensitive checksum: SUM (not XOR — XOR of a
  duplicated row self-cancels) of ``xxhash64`` over all output columns,
  accumulated in decimal(38,0) so 10^12-row sums can't overflow, then
  folded to 63 bits.

Driver cost model. What the driver builds before the write job
starts is paid on every backfill, so it is kept independent of
``n_units``:

- the digest grid has ``n_units × (2 + features)`` aggregates, but
  only ``1 + features`` hash expressions: the row hash and each
  feature's ``(entity, time, value)`` hash are built once and shared
  by every unit's ``unit == u`` predicate (the plan is the same as
  building them per cell; only the py4j round trips go);
- the lineage rows are appended from a pyarrow Table, which Spark
  plans as a LocalRelation: no RDD of pickled rows built through
  ``parallelize`` and no Python worker, for a few hundred rows;
- resume reads the lineage table in one ``distinct (unit, n_units)``
  collect.

Deterministic unit assignment (hash of the entity key, never
``rand()``) is what makes resume produce identical partitions
(SURVEY.md §7 hard parts).
"""

from __future__ import annotations

import hashlib
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "feature_set string, input_snapshot string, unit int, "
    "row_count long, digest long, completed_at double, n_units int"
)

# north-rule lineage granularity: one row per (feature id, snapshot,
# unit) — the per-FEATURE digest catches a single feature column
# regressing inside an otherwise-identical unit
FEATURE_LINEAGE_SCHEMA = (
    "feature_set string, feature string, input_snapshot string, "
    "unit int, digest long, completed_at double"
)


def feature_set_id(features: Sequence) -> str:
    """Stable id of the feature list: name/alias/input PLUS the
    transformer's identity. The transformer must participate — resume
    keys completed units on this id, so if editing a feature's LOGIC
    didn't change the id, a re-run would find every unit "complete"
    and silently serve the old code's outputs (digests would match,
    flagging nothing). Callables hash by module.qualname+bytecode via
    :func:`ballet_spark.core._hash_callable` (process-stable)."""
    from ballet_spark.core import _hash_callable

    def _tr_key(v) -> str:
        """Recursive, address-free structural key (default object repr
        embeds the memory address, which would make the id differ per
        process exactly like the _hash_callable bug)."""
        if v is None or isinstance(v, (str, int, float, bool, bytes)):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(_tr_key(t) for t in v) + "]"
        if isinstance(v, dict):
            return (
                "{"
                + ",".join(f"{k}:{_tr_key(x)}" for k, x in sorted(v.items()))
                + "}"
            )
        if callable(v) and hasattr(v, "__code__"):  # function/lambda
            return _hash_callable(v)
        if hasattr(v, "__dict__"):  # transformer / Feature / estimator
            state = ",".join(
                f"{k}={_tr_key(x)}"
                for k, x in sorted(vars(v).items())
                if not k.startswith("_")
            )
            return f"{type(v).__module__}.{type(v).__qualname__}({state})"
        if callable(v):
            return _hash_callable(v)
        # __slots__ objects / compiled patterns / anything without
        # __dict__: _value_key masks hex addresses and orders
        # sets/dicts, so the id stays process-stable (a bare repr()
        # would reintroduce the per-process-address instability this
        # function's docstring warns about)
        from ballet_spark.core import _value_key

        return _value_key(v)

    parts = "|".join(
        f"{f.name}:{f.alias}:"
        f"{f.input if isinstance(f.input, str) else list(f.input) if not callable(f.input) else _hash_callable(f.input)}"
        f":{_tr_key(getattr(f, 'transformer', None))}"
        for f in features
    )
    return hashlib.md5(parts.encode()).hexdigest()[:16]


def _unit_expr(entity_col: str, n_units: int):
    return F.pmod(F.xxhash64(F.col(entity_col)), F.lit(n_units)).cast("int")


def completed_units(
    spark: SparkSession, lineage_path: str, fset: str, snapshot: str,
    n_units: int | None = None,
) -> set[int]:
    """Units already recorded complete for (fset, snapshot). Only a
    MISSING lineage table means "first run" — any other read failure
    (transient FS error, corrupt footer) re-raises: swallowing it
    would silently recompute every unit and append a duplicate set of
    lineage rows. With ``n_units`` given, raises if existing rows were
    written under a DIFFERENT unit count: the pmod layouts are
    incompatible, and resuming across them would leave entities
    present in two unit directories at once."""
    # probe existence via the Hadoop FileSystem API first: "missing"
    # must not be classified by matching exception MESSAGE wording,
    # which differs across Spark versions / FS backends (PATH_NOT_FOUND
    # vs FileNotFoundException vs backend-specific phrasing) and would
    # turn a legitimate first run into a raise
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(lineage_path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return set()
    except Exception:
        pass  # probe unavailable (e.g. connect-only session): fall through
    try:
        lin = spark.read.parquet(lineage_path)
    except Exception as e:
        # errorClass is the stable contract; message substrings remain
        # only as a fallback for the probe-to-read race window
        ec = getattr(e, "getErrorClass", lambda: None)()
        if (
            ec == "PATH_NOT_FOUND"
            or "PATH_NOT_FOUND" in str(e)
            or "Path does not exist" in str(e)
        ):
            return set()
        raise
    mine = lin.filter(
        (F.col("feature_set") == fset) & (F.col("input_snapshot") == snapshot)
    )
    # one collect serves both the completed set and the n_units check
    # (lineage written before n_units was recorded has no such column)
    has_n = "n_units" in lin.columns
    rows = mine.select("unit", *(["n_units"] if has_n else [])).distinct().collect()
    if n_units is not None and has_n:
        seen = {r["n_units"] for r in rows if r["n_units"] is not None}
        if seen - {int(n_units)}:
            raise ValueError(
                f"lineage for feature_set={fset} snapshot={snapshot} was "
                f"written with n_units={sorted(seen)}; resuming with "
                f"n_units={n_units} would mix incompatible pmod layouts "
                "— reuse the original n_units or materialize under a "
                "new snapshot"
            )
    return {r["unit"] for r in rows}


def _append_rows(
    spark: SparkSession, rows: list[tuple], schema: str, path: str
) -> None:
    """Append driver-side ``rows`` (tuples in ``schema``'s column order)
    to the parquet table at ``path``. The rows go in as a pyarrow
    Table, which Spark plans as a LocalRelation instead of an RDD of
    pickled rows. The Table is cast to ``schema``, so the parquet
    schema is the one the DDL string names."""
    import pyarrow as pa

    names = [field.split()[0] for field in schema.split(",")]
    table = pa.table(dict(zip(names, map(list, zip(*rows)))))
    spark.createDataFrame(table, schema).write.mode("append").parquet(path)


def row_hash(cols: Sequence[str]) -> F.Column:
    """Per-row content hash as decimal(38,0) so a SUM over 10^12 rows
    stays exact (|xxhash64| < 2^63 ⇒ |sum| < 9.3e30 ≪ 1e38). Sum-based
    (not XOR) so a duplicated unit write CHANGES the digest instead of
    self-cancelling."""
    return F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")


def fold_digest(v) -> int:
    """Fold the decimal sum to a stable non-negative 63-bit digest."""
    if v is None:
        return 0
    return int(v) % (1 << 63)


def row_digest(df: DataFrame) -> F.Column:
    """Order-insensitive content digest aggregate over a whole frame
    (kept for ad-hoc comparisons; materialize() uses the per-unit
    observe() path)."""
    two63 = F.expr("CAST('9223372036854775808' AS DECIMAL(38,0))")
    return F.pmod(F.sum(row_hash(df.columns)), two63).cast("long")


def materialize(
    spark: SparkSession,
    source: DataFrame,
    features: Sequence,
    out_path: str,
    lineage_path: str,
    input_snapshot: str,
    entity_col: str = "url",
    time_col: str = "warc_ts",
    n_units: int = 8,
    fail_after_units: int | None = None,
    y: str | None = None,
    units_per_batch: int | None = None,
    feature_lineage_path: str | None = None,
) -> dict:
    """Materialize the feature matrix in resumable units.

    ``fail_after_units`` injects a crash after N units (for resume
    tests) and forces unit-granular batches so exactly N units commit.
    Normally ALL pending units run as one batch = one job = ONE scan of
    the source per backfill; ``units_per_batch`` trades scan count for
    finer checkpoint granularity. Returns a summary dict. Fit runs ONCE
    over the full train slice (the source as-of snapshot); only the
    transform is unitized, so fitted params are identical regardless of
    unit schedule.
    """
    from pyspark.sql import Observation

    from ballet_spark.core import FeatureEngineeringPipeline

    fset = feature_set_id(features)
    reserved = {"unit", "snapshot", "feature_set"}
    bad = reserved & {getattr(f, "alias", None) or f.name for f in features}
    if bad:
        raise ValueError(
            f"materialize reserves output column name(s) {sorted(bad)} "
            "for partition bookkeeping; rename the feature output"
        )
    done = completed_units(
        spark, lineage_path, fset, input_snapshot, n_units=n_units
    )
    pending = [u for u in range(n_units) if u not in done]
    if not pending:
        # fully-materialized re-run (orchestrator retry): nothing to
        # write, so don't pay the fit's full-source Spark jobs either
        return {
            "feature_set": fset,
            "input_snapshot": input_snapshot,
            "units_total": n_units,
            "units_skipped": len(done),
            "units_computed": 0,
            "out_path": out_path,
        }

    # old-layout guard (mirrors the n_units mismatch ValueError): the
    # r5 layout partitioned by (snapshot, unit) only; resuming the
    # feature_set-led layout into such a directory would mix two
    # partition trees at one root and fail Spark partition discovery
    # ("conflicting directory structures") far from the cause. Checked
    # AFTER the fully-materialized early-exit so an idempotent retry
    # that would write nothing keeps returning its no-op summary.
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(out_path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            names = [s.getPath().getName() for s in fs.listStatus(hpath)]
            has_old = any(n.startswith("snapshot=") for n in names)
            has_new = any(n.startswith("feature_set=") for n in names)
            if has_old and not has_new:
                raise ValueError(
                    f"out_path {out_path!r} holds a pre-feature_set "
                    "partition layout (snapshot=* at the root); writing "
                    "the feature_set-led layout into it would mix two "
                    "partition trees and break partition discovery — "
                    "materialize to a fresh out_path, or migrate the old "
                    "tree under feature_set=<id>/ first"
                )
    except ValueError:
        raise
    except Exception:
        pass  # probe unavailable (e.g. connect-only session)

    pipe = FeatureEngineeringPipeline(
        features, entity_col=entity_col, time_col=time_col
    )
    fitted = pipe.fit(source, y=y)

    if fail_after_units is not None:
        step = 1
    else:
        step = units_per_batch or max(len(pending), 1)
    batches = [pending[i : i + step] for i in range(0, len(pending), step)]

    n_done = 0
    for batch in batches:
        if fail_after_units is not None and n_done >= fail_after_units:
            raise RuntimeError(f"injected failure after {n_done} units")
        unit_col = _unit_expr(entity_col, n_units)
        part = source.filter(unit_col.isin(batch))
        # transform sees the source schema; the unit tag is re-derived
        # from the entity key on the OUTPUT (deterministic hash, so the
        # partition layout is identical across runs/batchings). The
        # snapshot partition gives Iceberg-style time travel: each
        # input snapshot's matrix is a separate partition tree, so
        # ``read_matrix(..., snapshot=S)`` is a pruned VERSION-AS-OF
        # read and re-materializing a new snapshot never disturbs the
        # previous one.
        matrix = (
            fitted.transform(part)
            .withColumn("feature_set", F.lit(fset))
            .withColumn("snapshot", F.lit(input_snapshot))
            .withColumn("unit", _unit_expr(entity_col, n_units))
        )
        feat_cols = [
            c for c in matrix.columns
            if c not in ("unit", "snapshot", "feature_set")
        ]
        # per-FEATURE digest columns (north rule: lineage keyed by
        # feature id): the feature outputs are every matrix column that
        # is not a key/bookkeeping column
        out_cols = [
            c for c in feat_cols if c not in (entity_col, time_col)
        ] if feature_lineage_path is not None else []
        # each hash Column is built ONCE and shared by every unit's
        # aggregate: the plan is the same, and the driver pays one
        # py4j chain per hash instead of one per cell of the grid
        unit_hash = row_hash(feat_cols)
        # hash (entity, time, value), not the value alone: a regression
        # that PERMUTES a feature's values across rows keeps the value
        # multiset (sum of value-only hashes unchanged) but changes
        # every (key, value) pairing — exactly the case per-feature
        # attribution exists to catch
        feat_hash = {c: row_hash([entity_col, time_col, c]) for c in out_cols}
        unit = F.col("unit")
        obs = Observation()
        exprs = []
        for u in batch:
            hit = unit == u
            exprs.append(F.sum(F.when(hit, 1).otherwise(0)).alias(f"n_{u}"))
            exprs.append(F.sum(F.when(hit, unit_hash)).alias(f"d_{u}"))
            exprs.extend(
                F.sum(F.when(hit, h)).alias(f"f_{u}__{c}")
                for c, h in feat_hash.items()
            )
        observed = matrix.observe(obs, *exprs)
        # dynamic partition overwrite: recomputing a unit REPLACES its
        # directory (idempotent) — a crash between this commit and the
        # lineage append cannot leave a duplicated unit on restart
        # feature_set leads the partition layout: two feature sets
        # materialized to the same out_path get DISJOINT partition
        # trees, so neither's dynamic overwrite can clobber the other
        # while its lineage still claims "complete" — and read_matrix
        # can select exactly one set
        (
            observed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("feature_set", "snapshot", "unit")
            .parquet(out_path)
        )
        metrics = obs.get
        now = float(time.time())
        # metrics are None when the observed frame (or a unit) had zero
        # rows — an empty unit is still COMPLETE (count 0, digest 0);
        # without the fallback the lineage row is never written and
        # every resume re-selects the unit and crashes again
        lineage_rows = [
            (fset, input_snapshot, u, int(metrics[f"n_{u}"] or 0),
             fold_digest(metrics[f"d_{u}"]), now, int(n_units))
            for u in batch
        ]
        # FEATURE rows append BEFORE the unit rows: resume keys on the
        # unit table, so a crash between the two writes must leave the
        # unit "incomplete" (recompute re-appends both) rather than
        # "complete with permanently missing feature rows". The
        # recompute can therefore duplicate feature rows — readers go
        # through feature_lineage(), which keeps the latest append per
        # (feature_set, feature, snapshot, unit).
        if feature_lineage_path is not None and out_cols:
            frows = [
                (fset, c, input_snapshot, u,
                 fold_digest(metrics[f"f_{u}__{c}"]), now)
                for u in batch
                for c in out_cols
            ]
            _append_rows(spark, frows, FEATURE_LINEAGE_SCHEMA, feature_lineage_path)
        _append_rows(spark, lineage_rows, LINEAGE_SCHEMA, lineage_path)
        n_done += len(batch)

    return {
        "feature_set": fset,
        "input_snapshot": input_snapshot,
        "units_total": n_units,
        "units_skipped": len(done),
        "units_computed": n_done,
        "out_path": out_path,
    }


def read_matrix(
    spark: SparkSession, out_path: str, snapshot: str | None = None,
    feature_set: str | None = None,
) -> DataFrame:
    """Read the materialized matrix
    (``feature_set=<f>/snapshot=<s>/unit=<u>`` partitioned layout).
    ``snapshot`` is the VERSION-AS-OF read: a partition-pruned scan of
    exactly that input snapshot's matrix — later materializations
    never disturb earlier ones. ``feature_set`` prunes to one feature
    set when several share the out_path. Without filters, everything
    is returned (the partition columns disambiguate)."""
    df = spark.read.parquet(out_path)
    if snapshot is not None:
        df = df.filter(F.col("snapshot") == snapshot)
    if feature_set is not None:
        df = df.filter(F.col("feature_set") == feature_set)
    return df


def lineage_metrics(spark: SparkSession, lineage_path: str) -> DataFrame:
    """The lineage/metrics table (discovery analog, V13)."""
    return spark.read.parquet(lineage_path)


def feature_lineage(spark: SparkSession, feature_lineage_path: str) -> DataFrame:
    """Per-feature lineage, deduplicated: a crash between the feature
    append and the unit append makes the restart recompute the unit and
    re-append its feature rows, so the raw table can hold several
    appends per key — keep the LATEST per
    (feature_set, feature, input_snapshot, unit)."""
    from pyspark.sql import Window

    raw = spark.read.parquet(feature_lineage_path)
    w = Window.partitionBy(
        "feature_set", "feature", "input_snapshot", "unit"
    ).orderBy(F.desc("completed_at"))
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
