"""Oracle-parity harness: mirrors the driver's correctness gate locally.

Runs a registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count + column names + values
(order-insensitive, column-name-sorted — the same canonicalization the
driver describes).  Default comparison is *bit-exact*; per-query ``tol``
loosens floats where cross-engine determinism is genuinely impossible.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from copperhead_spark.catalog import TABLES


# Queries allowed to plan a BroadcastNestedLoopJoin (all-pairs) on
# purpose, mapped to the registered query that is each one's scale path
# (SURVEY §7 / COVERAGE SIM1-2, D5).  tests/test_plan_audit.py enforces
# it and tools/plan_audit.py labels PLANS.md rows from it.
BNLJ_BASELINES = {
    # exact all-pairs cosine top-k; the scale path is LSH-bucketed
    "sim_cosine_topk": "sim_lsh_buckets",
    # the quantized sweep is deliberately all-pairs: it IS the cheap
    # shortlist generator; cluster pruning comes from sim_ivf_topk
    "sim_quantized_topk": "sim_ivf_topk",
    # truncation-quality audit: exact prefix-vs-full ranking over the
    # 5-query probe sample is all-pairs by design; the deployed prefix
    # ranking runs inside probed IVF cells
    "emb_matryoshka_topk": "sim_ivf_topk",
}


def make_duckdb(sf_dir: str):
    """A DuckDB connection with the testdata tables registered as views
    (the driver pre-registers the same names)."""
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


class UnhashableOutputColumn(TypeError):
    """A result column holds raw arrays/lists.  The DRIVER's canonicalizer
    sorts object columns via pandas Categorical factorize, which raises
    ``TypeError: unhashable type: 'list'`` on such columns (observed:
    CORRECTNESS_r04 a15_grouped_array_agg / sim_kmeans_train).  Strict
    mode raises here so local preflight predicts the driver instead of
    silently tuple-izing (the round-4 blind spot, testing.py@r4:55)."""


def canonicalize(df: pd.DataFrame, strict: bool = True) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows: makes two result
    sets comparable regardless of row/column order and engine-specific
    physical types (int32 vs int64, ns vs us timestamps).

    ``strict=True`` (the default — the driver-gate mirror) REJECTS
    list/ndarray-valued object columns instead of coercing them to
    tuples: the driver cannot hash them, so a driver-facing query must
    serialize arrays (concat_ws / to_json) or explode to rows.
    ``strict=False`` keeps the tuple coercion for local array-native
    comparisons in unit tests."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            df[c] = s.dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[ns]")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[ns]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            # Spark DateType -> pandas object of datetime.date, while
            # DuckDB DATE -> datetime64[ns]; the driver's hash treats
            # them as equal (scd2_dimension_build/sql_recursive_date_spine
            # driver-GREEN r04 with exactly this shape), so coerce dates
            # to the datetime canonical form rather than flagging them.
            import datetime as _dt

            non_null = s.dropna()
            if len(non_null) and non_null.map(
                lambda v: isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
            ).all():
                df[c] = pd.to_datetime(s).astype("datetime64[ns]")
                continue
            has_seq = s.map(lambda v: isinstance(v, (list, np.ndarray, dict))).any()
            if has_seq and strict:
                raise UnhashableOutputColumn(
                    f"column {c!r} holds list/array/dict values; the driver's "
                    "canonicalizer cannot hash these — serialize "
                    "(concat_ws/to_json) or explode to rows"
                )
            if has_seq:
                # arrays/lists -> tuples so they sort & compare (local only)
                df[c] = s.map(
                    lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
                )
    if len(df):
        df = df.sort_values(
            by=list(df.columns), kind="mergesort", na_position="last"
        ).reset_index(drop=True)
    return df


@dataclass
class CompareReport:
    name: str
    ok: bool
    detail: str = ""
    max_abs_diff: float = 0.0
    rows: int = 0
    mismatches: list = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK" if self.ok else "FAIL"
        return f"[{status}] {self.name} rows={self.rows} max_abs_diff={self.max_abs_diff:.3g} {self.detail}"


def compare_frames(
    name: str,
    spark_pdf: pd.DataFrame,
    oracle_pdf: pd.DataFrame,
    tol: float = 0.0,
    strict: bool = True,
) -> CompareReport:
    a = canonicalize(spark_pdf, strict=strict)
    b = canonicalize(oracle_pdf, strict=strict)
    if list(a.columns) != list(b.columns):
        return CompareReport(
            name, False, f"column mismatch: spark={list(a.columns)} oracle={list(b.columns)}"
        )
    if strict:
        # The driver's value hash distinguishes 60000 (int64) from 60000.0
        # (float64) even when loose == would pass (observed: r04
        # sketch_binned_quantiles, DuckDB HUGEINT -> pandas float64).
        # After canonical casts every column is exactly one of
        # int64/float64/bool/datetime64[ns]/object, so dtype equality here
        # is exactly "same hash family".
        bad = [
            f"{c}: spark={a[c].dtype} oracle={b[c].dtype}"
            for c in a.columns
            if a[c].dtype != b[c].dtype
        ]
        if bad:
            return CompareReport(
                name, False, "canonical dtype mismatch (driver hash would differ): "
                + "; ".join(bad)
            )
    if len(a) != len(b):
        return CompareReport(name, False, f"row count: spark={len(a)} oracle={len(b)}")
    max_diff = 0.0
    mismatches = []
    for c in a.columns:
        sa, sb = a[c], b[c]
        if pd.api.types.is_float_dtype(sa) and pd.api.types.is_float_dtype(sb):
            va, vb = sa.to_numpy(), sb.to_numpy()
            both_nan = np.isnan(va) & np.isnan(vb)
            neq = ~both_nan & ~(va == vb)
            if neq.any():
                diffs = np.abs(va[neq] - vb[neq])
                max_diff = max(max_diff, float(np.nanmax(diffs)))
                if float(np.nanmax(diffs)) > tol or np.isnan(diffs).any():
                    mismatches.append(
                        f"col {c}: {int(neq.sum())} diffs, max {np.nanmax(diffs):.6g} "
                        f"e.g. {va[neq][:3]} vs {vb[neq][:3]}"
                    )
        else:
            eq = (sa == sb) | (sa.isna() & sb.isna())
            if not eq.all():
                idx = (~eq).to_numpy().nonzero()[0][:3]
                mismatches.append(
                    f"col {c}: {int((~eq).sum())} diffs e.g. "
                    f"{sa.iloc[idx].tolist()} vs {sb.iloc[idx].tolist()}"
                )
    return CompareReport(
        name,
        ok=not mismatches,
        detail="; ".join(mismatches),
        max_abs_diff=max_diff,
        rows=len(a),
        mismatches=mismatches,
    )


def run_query_vs_oracle(spark, con, query, sf_dir: str) -> CompareReport:
    """Execute one registry Query on both engines and compare."""
    sdf = query.builder(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if query.oracle is None:
        return CompareReport(
            query.name, ok=len(spark_pdf) >= 0, detail="rows-only (no oracle)", rows=len(spark_pdf)
        )
    oracle_pdf = con.execute(query.oracle).df()
    try:
        return compare_frames(query.name, spark_pdf, oracle_pdf, tol=query.tol)
    except UnhashableOutputColumn as e:
        return CompareReport(query.name, False, f"driver-unhashable output: {e}")
