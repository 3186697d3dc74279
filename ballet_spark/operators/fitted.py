"""Fitted (learned) operators: fit = aggregation job over the TRAIN
slice producing small params; transform = pure expression (or broadcast
params-table join for group-wise fits). Parameters are never recomputed
on transform rows — the reference's leakage discipline
(ballet/eng/base.py:94-148 GroupwiseTransformer rationale).

Covers SURVEY.md §2.2 E4/E5/E11/E12 and the §2.3 sklearn/feature_engine
scaler/imputer/winsorizer/discretizer surface.

Scale notes: global fits are single ``df.agg`` jobs (partial+final
aggregation, tiny driver-side result). Group-wise fits produce a params
DataFrame that is small by construction (one row per group) and is
**broadcast** at transform time, so the big table is never shuffled.
Exact percentiles are used by default for oracle fidelity; pass
``exact=False`` on quantile-based ops to switch to
``percentile_approx`` at 10^12-row scale.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ballet_spark.operators.base import SparkTransformer


class AggFittedTransformer(SparkTransformer):
    """Base for operators whose fit is expressible as aggregations.

    Subclasses declare per-column agg expressions and an application
    expression over the learned params; the base class provides both the
    global fit (one agg job → scalar params → ``lit``) and, via
    :class:`Groupwise`, the per-group fit (groupBy agg → params table →
    broadcast join).
    """

    #: params learned per input column: name → agg-expr builder
    def _agg_exprs(self, c: Column) -> dict[str, Column]:
        raise NotImplementedError

    def _apply(self, e: Column, p: dict[str, Column]) -> Column:
        raise NotImplementedError

    def fit(self, df: DataFrame, cols: list[str], ctx, y=None):
        aggs = []
        for c in cols:
            for name, expr in self._agg_exprs(F.col(c)).items():
                aggs.append(expr.alias(f"{c}__{name}"))
        row = df.agg(*aggs).first().asDict()
        self.params_ = {
            c: {
                name: row[f"{c}__{name}"]
                for name in self._agg_exprs(F.col(c)).keys()
            }
            for c in cols
        }
        self._cols = cols
        return self

    def transform_exprs(self, in_exprs, ctx):
        out = []
        for e, c in zip(in_exprs, self._cols):
            p = {k: F.lit(v) for k, v in self.params_[c].items()}
            out.append(self._apply(e, p))
        return out


class StandardScaler(AggFittedTransformer):
    """(x - mean) / std with population std (ddof=0), matching sklearn
    StandardScaler (ballet/eng/external/sklearn.py:4-16)."""

    def __init__(self, with_mean: bool = True, with_std: bool = True):
        self.with_mean = with_mean
        self.with_std = with_std

    def _agg_exprs(self, c):
        return {"mean": F.avg(c), "std": F.stddev_pop(c)}

    def _apply(self, e, p):
        out = e.cast("double")
        if self.with_mean:
            out = out - p["mean"]
        if self.with_std:
            out = F.when(p["std"] != 0, out / p["std"]).otherwise(out)
        return out


class MinMaxScaler(AggFittedTransformer):
    def __init__(self, lo: float = 0.0, hi: float = 1.0):
        self.lo, self.hi = lo, hi

    def _agg_exprs(self, c):
        return {"min": F.min(c), "max": F.max(c)}

    def _apply(self, e, p):
        rng = p["max"] - p["min"]
        scaled = F.when(rng != 0, (e - p["min"]) / rng).otherwise(F.lit(0.0))
        return scaled * (self.hi - self.lo) + self.lo


class MaxAbsScaler(AggFittedTransformer):
    def _agg_exprs(self, c):
        return {"maxabs": F.max(F.abs(c))}

    def _apply(self, e, p):
        return F.when(p["maxabs"] != 0, e / p["maxabs"]).otherwise(e.cast("double"))


class RobustScaler(AggFittedTransformer):
    """(x - median) / IQR. Exact percentile by default; approx at scale."""

    def __init__(self, exact: bool = True):
        self.exact = exact

    def _pct(self, c, q):
        if self.exact:
            return F.percentile(c, F.lit(q))
        return F.percentile_approx(c, F.lit(q), F.lit(10000))

    def _agg_exprs(self, c):
        return {
            "q1": self._pct(c, 0.25),
            "med": self._pct(c, 0.5),
            "q3": self._pct(c, 0.75),
        }

    def _apply(self, e, p):
        iqr = p["q3"] - p["q1"]
        return F.when(iqr != 0, (e - p["med"]) / iqr).otherwise(
            (e - p["med"]).cast("double")
        )


class SimpleImputer(AggFittedTransformer):
    """mean/median/most_frequent/constant imputation
    (sklearn surface, ballet/eng/external/sklearn.py:1-46)."""

    def __init__(self, strategy: str = "mean", fill_value=None, exact: bool = True):
        if strategy not in ("mean", "median", "most_frequent", "constant"):
            raise ValueError(strategy)
        self.strategy = strategy
        self.fill_value = fill_value
        self.exact = exact

    def _agg_exprs(self, c):
        if self.strategy == "mean":
            return {"fill": F.avg(c)}
        if self.strategy == "median":
            if self.exact:
                return {"fill": F.percentile(c, F.lit(0.5))}
            return {"fill": F.percentile_approx(c, F.lit(0.5), F.lit(10000))}
        if self.strategy == "most_frequent":
            # deterministic mode: ties broken by smallest value (sklearn)
            return {"fill": F.mode(c, True)}
        return {"fill": F.lit(self.fill_value)}

    def _apply(self, e, p):
        return F.coalesce(e, p["fill"])


class Winsorizer(AggFittedTransformer):
    """Cap at train quantiles (feature_engine Winsorizer,
    ballet/eng/external/feature_engine.py: outliers)."""

    def __init__(self, lower_q: float = 0.05, upper_q: float = 0.95, exact: bool = True):
        self.lower_q, self.upper_q = lower_q, upper_q
        self.exact = exact

    def _pct(self, c, q):
        if self.exact:
            return F.percentile(c, F.lit(q))
        return F.percentile_approx(c, F.lit(q), F.lit(10000))

    def _agg_exprs(self, c):
        return {"lo": self._pct(c, self.lower_q), "hi": self._pct(c, self.upper_q)}

    def _apply(self, e, p):
        x = e.cast("double")
        # a winsorizer caps, it must never impute: greatest(NULL, lo)
        # is lo (Spark skips NULLs) and least orders NaN largest, so
        # without the guard missing values silently become the caps
        # (same guard as ArbitraryOutlierCapper below)
        return F.when(
            x.isNull() | F.isnan(x), x
        ).otherwise(F.least(F.greatest(x, p["lo"]), p["hi"]))


class ComputedValueTransformer(AggFittedTransformer):
    """Compute a scalar on train, emit it as a constant column
    (ballet/eng/misc.py:130-156). ``agg_fn`` builds the agg expression,
    e.g. ``F.avg``."""

    def __init__(self, agg_fn: Callable[[Column], Column]):
        self.agg_fn = agg_fn

    def _agg_exprs(self, c):
        return {"value": self.agg_fn(c)}

    def _apply(self, e, p):
        return p["value"]


class ConditionalTransformer(AggFittedTransformer):
    """Fit: evaluate a boolean per-column condition aggregate on train;
    transform: apply ``satisfy`` expr to satisfied columns, ``unsatisfy``
    (default identity) to the rest — plan-time branching, zero runtime
    cost (ballet/eng/base.py:257-326).
    """

    def __init__(
        self,
        condition_agg: Callable[[Column], Column],
        satisfy: Callable[[Column], Column],
        unsatisfy: Callable[[Column], Column] | None = None,
    ):
        self.condition_agg = condition_agg
        self.satisfy = satisfy
        self.unsatisfy = unsatisfy

    def _agg_exprs(self, c):
        return {"cond": self.condition_agg(c).cast("boolean")}

    def _apply(self, e, p):
        raise AssertionError("unused — transform_exprs overridden")

    def transform_exprs(self, in_exprs, ctx):
        out = []
        for e, c in zip(in_exprs, self._cols):
            if bool(self.params_[c]["cond"]):
                out.append(self.satisfy(e))
            elif self.unsatisfy is not None:
                out.append(self.unsatisfy(e))
            else:
                out.append(e)
        return out


def boxcox1p_expr(e: Column, lmbda: float) -> Column:
    """scipy.special.boxcox1p as a Column expression."""
    if lmbda == 0.0:
        return F.log1p(e)
    return (F.pow(F.lit(1.0) + e, F.lit(lmbda)) - 1.0) / F.lit(lmbda)


class BoxCoxTransformer(ConditionalTransformer):
    """Box-Cox of 1+x on columns whose train |skewness| exceeds
    ``threshold`` (ballet/eng/misc.py:33-55). Spark ``skewness`` is the
    population (bias=True) estimator, matching ``scipy.stats.skew``
    defaults used by the reference."""

    def __init__(self, threshold: float, lmbda: float = 0.0):
        super().__init__(
            condition_agg=lambda c: F.abs(F.skewness(c)) > F.lit(threshold),
            satisfy=lambda e: boxcox1p_expr(e, lmbda),
        )
        self.threshold = threshold
        self.lmbda = lmbda


class KBinsDiscretizer(AggFittedTransformer):
    """Bin index by train quantiles ('quantile') or equal-width
    ('uniform') boundaries (sklearn KBinsDiscretizer ordinal encoding;
    feature_engine Equal{Frequency,Width}Discretiser). Values outside
    the train range clip to the first/last bin."""

    def __init__(self, n_bins: int = 5, strategy: str = "quantile", exact: bool = True):
        if strategy not in ("quantile", "uniform"):
            raise ValueError(strategy)
        self.n_bins = n_bins
        self.strategy = strategy
        self.exact = exact

    def _agg_exprs(self, c):
        if self.strategy == "uniform":
            return {"min": F.min(c).cast("double"), "max": F.max(c).cast("double")}
        qs = [i / self.n_bins for i in range(1, self.n_bins)]
        pct = F.percentile if self.exact else (
            lambda col, q: F.percentile_approx(col, q, F.lit(10000))
        )
        return {f"q{i}": pct(c, F.lit(q)) for i, q in enumerate(qs)}

    def _apply(self, e, p):
        # NULL input stays NULL — NULL comparisons would otherwise fall
        # through to the `otherwise` default, silently converting
        # missingness into the LAST bin ('quantile') / bin 0 ('uniform')
        if self.strategy == "uniform":
            lo, hi = p["min"], p["max"]
            width = (hi - lo) / F.lit(float(self.n_bins))
            raw = F.floor((e - lo) / width)
            binned = F.least(
                F.greatest(raw, F.lit(0)), F.lit(self.n_bins - 1)
            )
            return F.when(e.isNull(), F.lit(None)).otherwise(binned).cast("int")
        # quantile: CASE chain over n_bins-1 boundaries (n_bins is small)
        expr = F.lit(self.n_bins - 1)
        for i in reversed(range(self.n_bins - 1)):
            expr = F.when(e <= p[f"q{i}"], F.lit(i)).otherwise(expr)
        return F.when(e.isNull(), F.lit(None)).otherwise(expr).cast("int")


class Binarizer(SparkTransformer):
    """Stateless threshold indicator (sklearn Binarizer)."""

    def __init__(self, threshold: float = 0.0):
        self.threshold = threshold

    def transform_exprs(self, in_exprs, ctx):
        return [(e > F.lit(self.threshold)).cast("int") for e in in_exprs]


class PolynomialFeatures(SparkTransformer):
    """Degree-2 products of the input columns (sklearn surface,
    ballet/eng/external/sklearn.py:12): [x_i] + [x_i * x_j, i<=j]."""

    def __init__(self, include_bias: bool = False):
        self.include_bias = include_bias

    def transform_exprs(self, in_exprs, ctx):
        out = []
        if self.include_bias:
            out.append(F.lit(1.0))
        out.extend(e.cast("double") for e in in_exprs)
        n = len(in_exprs)
        for i in range(n):
            for j in range(i, n):
                out.append((in_exprs[i] * in_exprs[j]).cast("double"))
        return out


class LogTransformer(SparkTransformer):
    """feature_engine LogTransformer (natural log)."""

    def transform_exprs(self, in_exprs, ctx):
        return [F.log(e) for e in in_exprs]


class ReciprocalTransformer(SparkTransformer):
    def transform_exprs(self, in_exprs, ctx):
        return [F.lit(1.0) / e for e in in_exprs]


class Groupwise(SparkTransformer):
    """Per-group fitted transformer (ballet/eng/base.py:94-254).

    fit: ``train.groupBy(by).agg(inner's aggs)`` → small params table.
    transform: **broadcast** left join on the group key; per-row param
    columns feed the inner op's apply expression.

    Unseen groups at transform:
    - ``handle_unknown='error'`` → distributed ``raise_error`` at
      execution (the reference raises BalletError,
      ballet/eng/base.py:240-246);
    - ``'ignore'`` → the group's values pass through unchanged
      (ballet/eng/base.py docstring + tests/eng/test_base.py:149-197).
    """

    def __init__(
        self,
        inner: AggFittedTransformer,
        by: str,
        handle_unknown: str = "error",
    ):
        if handle_unknown not in ("error", "ignore"):
            raise ValueError(
                f"Invalid value for handle_unknown: {handle_unknown}"
            )
        self.inner = inner
        self.by = by
        self.handle_unknown = handle_unknown

    def fit(self, df: DataFrame, cols: list[str], ctx, y=None):
        aggs = [F.lit(1).alias("__seen")]
        names: list[tuple[str, str]] = []
        for c in cols:
            for name, expr in self.inner._agg_exprs(F.col(c)).items():
                aggs.append(expr.alias(f"__p_{c}__{name}"))
                names.append((c, name))
        self.params_df_ = df.groupBy(F.col(self.by).alias("__g")).agg(*aggs)
        self._param_names = names
        self._cols = cols
        self.inner._cols = cols
        return self

    def transform_exprs(self, in_exprs, ctx):
        return None  # requires the params-table join

    def transform_df(self, df, cols, alias, ctx):
        # eqNullSafe: fit's groupBy produces a params row for the NULL
        # group, so NULL-keyed transform rows must match it (same
        # convention as encoders.py) instead of being treated as unseen.
        joined = df.join(
            F.broadcast(self.params_df_),
            df[self.by].eqNullSafe(F.col("__g")),
            "left",
        )
        out_names = []
        outs = []
        for i, c in enumerate(cols):
            p = {
                name: F.col(f"__p_{c}__{name}")
                for (cc, name) in self._param_names
                if cc == c
            }
            applied = self.inner._apply(F.col(c), p)
            seen = F.col("__seen").isNotNull()
            if self.handle_unknown == "error":
                expr = F.when(
                    ~seen,
                    F.raise_error(
                        F.concat(F.lit("Unknown group: "), F.col(self.by))
                    ),
                ).otherwise(applied)
            else:
                expr = F.when(seen, applied).otherwise(F.col(c).cast("double"))
            name = alias if len(cols) == 1 else f"{alias}_{i}"
            outs.append(expr.alias(name))
            out_names.append(name)
        keep = [F.col(c) for c in df.columns]
        return joined.select(*keep, *outs), out_names


class GroupedApply(SparkTransformer):
    """Arbitrary per-group pandas function — the reference's
    ``GroupedFunctionTransformer`` (ballet/eng/base.py:64-91) via
    ``applyInPandas``. ``fn`` receives the group's pandas DataFrame of
    the input columns (plus keys) and returns a DataFrame matching
    ``schema``. This is the sanctioned escape hatch when no expression
    composition exists; Arrow-batched, never per-row Python."""

    def __init__(self, fn: Callable, schema: str, by: str | None = None):
        self.fn = fn
        self.schema = schema
        self.by = by

    def transform_df(self, df, cols, alias, ctx):
        by = self.by or ctx.entity_col
        out = df.groupBy(by).applyInPandas(self.fn, self.schema)
        new = [c for c in out.columns if c not in df.columns]
        # caller must join back if alignment with df is needed
        return out, new


class KNNImputer(SparkTransformer):
    """APPROXIMATE distributed KNN imputation (sklearn KNNImputer
    analog, /root/reference/ballet/eng/external/sklearn.py:1 re-export;
    exact KNN needs an all-pairs search that doesn't decompose into
    Catalyst primitives — SURVEY.md §2.3).

    Approximation contract: neighbors are restricted to rows sharing
    the ``by`` bucket (a category, or a hash bucket of the entity key);
    within each bucket an EXACT k-nearest-donor mean imputation runs in
    one grouped ``applyInArrow`` kernel. Neighbors never cross
    buckets — that is the entire approximation, and it is what makes
    the operator linear: one shuffle on ``by``, numpy block-matrix
    distances inside. At scale, pick ``by`` with enough cardinality to
    bound bucket size (or a composite/hash bucket).

    Distances are squared-euclidean over ``feature_cols`` (must be
    non-null); ties break on (distance, ``id_col``), so results are
    deterministic and replayable by a SQL oracle. A NULL or NaN target
    is missing; missing targets with zero donors in their bucket stay
    NULL. Every input column passes through as Arrow, unchanged (a NaN
    stays NaN).
    """

    def __init__(
        self,
        n_neighbors: int = 5,
        feature_cols: list[str] | None = None,
        by: str | None = None,
        id_col: str | None = None,
    ):
        self.n_neighbors = n_neighbors
        self.feature_cols = feature_cols
        self.by = by
        self.id_col = id_col

    def fit(self, df: DataFrame, cols: list[str], ctx, y=None):
        if not self.feature_cols:
            raise ValueError("KNNImputer requires feature_cols (non-null coordinates)")
        self._cols = cols
        return self

    def transform_exprs(self, in_exprs, ctx):
        return None

    def transform_df(self, df, cols, alias, ctx):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.types import DoubleType, StructField, StructType

        if len(cols) != 1:
            raise ValueError("KNNImputer imputes one target column at a time")
        target = cols[0]
        by = self.by or ctx.entity_col
        idc = self.id_col or by
        feats = list(self.feature_cols)
        k = self.n_neighbors
        schema = StructType(list(df.schema.fields) + [StructField(alias, DoubleType())])

        def _kern(t: pa.Table) -> pa.Table:
            # as float64 NumPy, NULL -> NaN: a NULL target is missing
            # like a NaN one
            X = np.column_stack([pc.cast(t[f], pa.float64()).to_numpy() for f in feats])
            v = pc.cast(t[target], pa.float64()).to_numpy()
            ids = t[idc].to_numpy()
            out = v.copy()
            miss = np.isnan(v)
            don = ~miss
            if miss.any() and don.any():
                D, dv, dids = X[don], v[don], ids[don]
                kk = min(k, int(don.sum()))
                # block the missing rows so the distance matrix stays
                # ~256×|donors| regardless of bucket size
                midx = np.flatnonzero(miss)
                for chunk in np.array_split(midx, max(1, len(midx) // 256)):
                    diff = X[chunk][:, None, :] - D[None, :, :]
                    d2 = (diff * diff).sum(axis=2)
                    for r, mi in enumerate(chunk):
                        row = d2[r]
                        if kk < len(row):
                            # exact (d2, id) top-k without a full sort:
                            # argpartition bounds the kth distance, then
                            # every donor at <= that distance competes in
                            # the tie-break — identical to a global sort
                            kth = row[np.argpartition(row, kk - 1)[:kk]].max()
                            sel = np.flatnonzero(row <= kth)
                        else:
                            sel = np.arange(len(row))
                        order = np.lexsort((dids[sel], row[sel]))[:kk]
                        out[mi] = dv[sel[order]].sum() / kk
            # a missing target without donors stays NaN here: SQL NULL
            return t.append_column(alias, pa.array(out, mask=np.isnan(out)))

        return df.groupBy(by).applyInArrow(_kern, schema), [alias]


class IterativeImputer(SparkTransformer):
    """Regression imputation (sklearn IterativeImputer analog,
    /root/reference/ballet/eng/external/sklearn.py:43 re-export),
    distributed via MOMENT AGGREGATES: each sweep fits OLS of the
    target on ``feature_cols`` using centered second moments computed
    by two aggregation jobs (means, then co-deviations) over rows where
    the target is observed — the data never collects to the driver,
    only a handful of scalars per sweep. The solved coefficients apply
    as a plain Column expression.

    With 2 features the normal system is solved in closed form (fixed
    operation order — a SQL oracle can replay it bit-for-bit); k>2
    falls back to ``numpy.linalg.solve``. Missing values are first
    initialized to observed means (sklearn ``initial_strategy='mean'``),
    then ``max_iter`` round-robin sweeps re-fit each target against the
    CURRENT working values (other targets' latest imputations included;
    a target never regresses on itself) and refresh that target's
    working column. y is always fit on genuinely observed rows only.
    With fully-observed features and one target the first sweep is the
    fixed point. Degenerate fits (singular system) fall back to the
    target mean."""

    def __init__(
        self,
        feature_cols: list[str] | None = None,
        max_iter: int = 1,
        ridge: float = 0.0,
    ):
        self.feature_cols = feature_cols
        self.max_iter = max_iter
        self.ridge = ridge

    def fit(self, df: DataFrame, cols: list[str], ctx, y=None):
        if not self.feature_cols:
            raise ValueError("IterativeImputer requires feature_cols")
        self._cols = cols
        return self

    def transform_exprs(self, in_exprs, ctx):
        return None

    def _fit_one(self, df: DataFrame, target: str, feats: list[str]):
        yv = F.col(target).cast("double")
        fv = [F.col(c).cast("double") for c in feats]
        obs = df.filter(
            yv.isNotNull() & __import__("functools").reduce(
                lambda a, b: a & b, [f.isNotNull() for f in fv]
            )
        )
        means = obs.agg(
            F.avg(yv).alias("my"), *[F.avg(f).alias(f"m{i}") for i, f in enumerate(fv)]
        ).first()
        if means["my"] is None:
            return None
        my = float(means["my"])
        m = [float(means[f"m{i}"]) for i in range(len(fv))]
        devs = [f - F.lit(m[i]) for i, f in enumerate(fv)]
        dy = yv - F.lit(my)
        aggs = []
        for i in range(len(fv)):
            for j in range(i, len(fv)):
                aggs.append(F.sum(devs[i] * devs[j]).alias(f"c_{i}_{j}"))
            aggs.append(F.sum(devs[i] * dy).alias(f"cy_{i}"))
        row = obs.agg(*aggs).first()
        k = len(fv)
        if k == 2:
            ctt = float(row["c_0_0"]) + self.ridge
            ctu = float(row["c_0_1"])
            cuu = float(row["c_1_1"]) + self.ridge
            cty, cuy = float(row["cy_0"]), float(row["cy_1"])
            det = ctt * cuu - ctu * ctu
            if det == 0.0:
                return (my, [0.0, 0.0], m)
            bt = (cty * cuu - cuy * ctu) / det
            bu = (ctt * cuy - ctu * cty) / det
            return (my, [bt, bu], m)
        import numpy as np

        A = np.zeros((k, k))
        b = np.zeros(k)
        for i in range(k):
            for j in range(i, k):
                A[i, j] = A[j, i] = float(row[f"c_{i}_{j}"])
            A[i, i] += self.ridge
            b[i] = float(row[f"cy_{i}"])
        try:
            beta = np.linalg.solve(A, b)
        except np.linalg.LinAlgError:
            return (my, [0.0] * k, m)
        return (my, [float(x) for x in beta], m)

    def transform_df(self, df, cols, alias, ctx):
        feats_all = list(self.feature_cols)
        # working copies of every referenced column; missing values are
        # initialized to the observed mean (sklearn initial_strategy=
        # 'mean') so every target-observed row contributes to the fit
        cur = df
        work = {}
        for c in dict.fromkeys(feats_all + list(cols)):
            w = f"__iw_{c}"
            work[c] = w
            cur = cur.withColumn(w, F.col(c).cast("double"))
        means = cur.agg(
            *[F.avg(F.col(w)).alias(c) for c, w in work.items()]
        ).first()
        for c, w in work.items():
            if means[c] is not None:
                cur = cur.withColumn(
                    w, F.coalesce(F.col(w), F.lit(float(means[c])))
                )
        # round-robin sweeps: each sweep re-fits every target against
        # the CURRENT working values (which include the other targets'
        # latest imputations), then refreshes that target's working
        # column — sklearn's iteration. A target never regresses on
        # itself. With fully-observed features and a single target the
        # first sweep is already the fixed point.
        for sweep in range(max(1, self.max_iter)):
            for target in cols:
                feats = [work[f] for f in feats_all if f != target]
                if not feats:
                    continue
                fitted = self._fit_one(cur, target, feats)
                if fitted is None:
                    continue
                my, beta, m = fitted
                pred = F.lit(my)
                for bi, (b, c) in enumerate(zip(beta, feats)):
                    pred = pred + F.lit(b) * (F.col(c) - F.lit(m[bi]))
                cur = cur.withColumn(
                    work[target],
                    F.coalesce(F.col(target).cast("double"), pred),
                )
        out_names = []
        for i, target in enumerate(cols):
            name = alias if len(cols) == 1 else f"{alias}_{i}"
            cur = cur.withColumn(name, F.col(work[target]))
            out_names.append(name)
        return cur.drop(*work.values()), out_names


class ArbitraryDiscretiser(SparkTransformer):
    """Bin by user-supplied boundaries (feature_engine
    ArbitraryDiscretiser): bin i ⇔ bins[i] < x <= bins[i+1]; outside ⇒
    clipped to the first/last bin. Stateless (boundaries are given)."""

    def __init__(self, bins: list[float]):
        if len(bins) < 2:
            raise ValueError("need at least 2 boundaries")
        self.bins = list(bins)

    def transform_exprs(self, in_exprs, ctx):
        out = []
        n_bins = len(self.bins) - 1
        for e in in_exprs:
            expr = F.lit(n_bins - 1)
            for i in reversed(range(n_bins)):
                expr = F.when(e <= F.lit(self.bins[i + 1]), F.lit(i)).otherwise(expr)
            out.append(expr.cast("int"))
        return out


class ArbitraryOutlierCapper(SparkTransformer):
    """Clamp to fixed bounds (feature_engine ArbitraryOutlierCapper)."""

    def __init__(self, min_value: float | None = None, max_value: float | None = None):
        self.min_value = min_value
        self.max_value = max_value

    def transform_exprs(self, in_exprs, ctx):
        out = []
        for e in in_exprs:
            x = e.cast("double")
            capped = x
            if self.min_value is not None:
                capped = F.greatest(capped, F.lit(float(self.min_value)))
            if self.max_value is not None:
                capped = F.least(capped, F.lit(float(self.max_value)))
            # Spark least/greatest order NaN as largest — pass missing
            # values through untouched instead of capping them
            out.append(F.when(x.isNull() | F.isnan(x), x).otherwise(capped))
        return out


class EndTailImputer(AggFittedTransformer):
    """Impute nulls with a tail value learned on train:
    ``mean + 3*std`` ('gaussian') or the 75th percentile + 3*IQR
    ('iqr') (feature_engine EndTailImputer)."""

    def __init__(self, method: str = "gaussian", exact: bool = True):
        if method not in ("gaussian", "iqr"):
            raise ValueError(method)
        self.method = method
        self.exact = exact

    def _agg_exprs(self, c):
        if self.method == "gaussian":
            return {"m": F.avg(c), "s": F.stddev_samp(c)}
        pct = F.percentile if self.exact else (
            lambda col, q: F.percentile_approx(col, q, F.lit(10000))
        )
        return {"q3": pct(c, F.lit(0.75)), "q1": pct(c, F.lit(0.25))}

    def _apply(self, e, p):
        if self.method == "gaussian":
            tail = p["m"] + 3.0 * p["s"]
        else:
            tail = p["q3"] + 3.0 * (p["q3"] - p["q1"])
        return F.coalesce(e.cast("double"), tail)


def drop_missing(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Row filter: drop rows with nulls in ``cols`` (feature_engine
    DropMissingData — a plan-level filter, not a column transform)."""
    out = df
    for c in cols:
        out = out.filter(F.col(c).isNotNull())
    return out


def trim_outliers(
    df: DataFrame, col: str, lower_q: float = 0.05, upper_q: float = 0.95
) -> DataFrame:
    """Row filter at train quantiles (feature_engine OutlierTrimmer)."""
    lo, hi = df.agg(
        F.percentile(F.col(col), F.lit(lower_q)),
        F.percentile(F.col(col), F.lit(upper_q)),
    ).first()
    return df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
