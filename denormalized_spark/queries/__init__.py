"""Query registry: every implemented operator from SURVEY.md §2 gets
a (spark_impl, oracle_sql) pair. The driver runs both at sf=0.01 and
hash-compares results (order-insensitive, columns sorted by name), so

- every computed column is aliased IDENTICALLY in both,
- floats are rounded the same number of digits in both,
- all hashing is the md5-prefix hash of ``operators._hashing``
  (identical across engines; oracles embed ``md5_int_sql``),
- top-k queries carry explicit tiebreaks so LIMIT is deterministic.

Known rounding hazard (fix pattern, applied where hit): Spark's
round() rounds the shortest DECIMAL repr half-up while DuckDB rounds
the BINARY value, so a quotient landing EXACTLY on a half-way decimal
(systematic when a k-decimal numerator divides a small integer — see
window_rollup_cascade's 307.03/8 = 38.37875 at sf0.001) diverges by
one final digit. Where a query hits this, replace the final round
with the explicit binary HALF_UP ``floor(x·10^d + 0.5)/10^d`` on BOTH
sides — identical IEEE ops, no repr dependence. Plain int/int rates
rounded at 6 digits can also land half-way when the reduced
denominator divides 2·10^6 but not 10^6 (e.g. 1/128); all current
entries are sweep-green at sf0.001/0.01/0.1 — apply the same fix if a
scale factor ever surfaces one.
"""

from __future__ import annotations

from denormalized_spark.queries import (  # noqa: F401  (each module registers its queries)
    analytics,
    curation,
    llm_pipeline,
    relational,
    streaming_windows,
    temporal,
    udf_queries,
)
from denormalized_spark.queries._util import EAGER, ORACLES, QUERIES  # noqa: F401
