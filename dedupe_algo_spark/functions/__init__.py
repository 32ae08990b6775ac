"""Vectorized (pandas/Arrow) and built-in column functions.

Per BASELINE.json input_hint: no per-row Python UDFs anywhere — every
custom function is either a built-in ``pyspark.sql.functions`` expression
(JVM side, whole-stage-codegen eligible) or an Arrow-batched pandas UDF.
Each measure has one implementation: a pandas UDF only where no
built-in expression computes the same value.
"""

from .urls import canonical_url, registered_domain
from .hashing import length_bucket
from .simhash import simhash64_udf, simhash_bands
from .similarity import pair_jaro_winkler_udf, levenshtein_sim_col

__all__ = [
    "canonical_url",
    "registered_domain",
    "length_bucket",
    "simhash64_udf",
    "simhash_bands",
    "pair_jaro_winkler_udf",
    "levenshtein_sim_col",
]
