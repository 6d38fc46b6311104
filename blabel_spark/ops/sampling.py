"""Deterministic corpus sampling for training-data pipelines.

Large-scale pipelines mix sources at controlled rates ("take 80% of
source A, 10% of source B").  ``rand()`` sampling is irreproducible and
unstable under retries/stragglers; the operator here keys every decision
on a content-independent hash of the row's stable key, so the sample is

* deterministic and reproducible across runs, engines and cluster sizes
  (no RNG, no partition-order dependence — the property Spark's own
  ``DataFrame.sample`` does NOT give across re-planning);
* map-only: a codegen filter, no shuffle, pushdown-friendly — at 100 TB
  the scan is the whole cost;
* exactly re-computable by any engine with md5 (the DuckDB oracle twin
  runs the identical arithmetic).

Decision rule: keep a row iff the first 8 hex digits of
``md5(salt || ':' || key)`` are lexicographically below the stratum's
8-digit threshold ``floor(rate * 16^8)`` (lowercase-hex string order ==
numeric order).  Rates are clamped to [0, 1); a rate >= 1 keeps the whole
stratum exactly (bypassing the hash, which would otherwise drop keys
hashing to 'ffffffff' — probability 16^-8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _threshold_hex(rate: float) -> str:
    r = min(max(int(rate * 16 ** 8), 0), 16 ** 8 - 1)
    return format(r, "08x")


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      default_rate: float = 0.0,
                      key_col: str = "doc_id",
                      stratum_col: str = "source",
                      salt: str = "s1") -> DataFrame:
    """Per-stratum deterministic subsample of ``docs``.

    ``rates`` maps stratum values to keep-rates; strata not listed use
    ``default_rate``.  Returns the kept rows (all input columns).
    """
    # concat, not concat_ws: a NULL key must give a NULL bucket (row
    # dropped unless its stratum keeps all), as in the SQL twin —
    # concat_ws would skip it and hash the bare salt
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"),
                       F.col(key_col).cast("string"))), 1, 8)
    thr = F.lit(_threshold_hex(default_rate))
    keep_all = F.lit(default_rate >= 1.0)
    # deterministic CASE order (sorted strata) — the expression tree is
    # identical on every build of the same rates dict
    for stratum in sorted(rates):
        rate = rates[stratum]
        thr = F.when(F.col(stratum_col) == stratum,
                     F.lit(_threshold_hex(rate))).otherwise(thr)
        keep_all = F.when(F.col(stratum_col) == stratum,
                          F.lit(rate >= 1.0)).otherwise(keep_all)
    return docs.where(keep_all | (bucket < thr))


def stratified_sample_sql(rates: dict[str, float],
                          default_rate: float = 0.0,
                          key_col: str = "doc_id",
                          stratum_col: str = "source",
                          salt: str = "s1") -> str:
    """The DuckDB twin of ``stratified_sample``'s predicate — identical
    md5/substring/compare arithmetic, usable as a WHERE clause."""
    cases = " ".join(
        f"WHEN {stratum_col} = '{s}' THEN '{_threshold_hex(rates[s])}'"
        for s in sorted(rates))
    keep_cases = " ".join(
        f"WHEN {stratum_col} = '{s}' THEN {str(rates[s] >= 1.0).upper()}"
        for s in sorted(rates))
    thr = f"CASE {cases} ELSE '{_threshold_hex(default_rate)}' END"
    keep_all = (f"CASE {keep_cases} ELSE {str(default_rate >= 1.0).upper()}"
                " END")
    bucket = (f"substr(md5('{salt}' || ':' || "
              f"CAST({key_col} AS VARCHAR)), 1, 8)")
    return f"({keep_all} OR {bucket} < {thr})"
