"""Oracle-portable hashing primitives for the training-data operators.

``xxhash64``/``hash`` are Spark-private algorithms, so any operator whose
correctness is checked against an external SQL oracle (DuckDB) builds on
**md5** instead: both engines produce identical hex digests, and the first
12 hex chars fold into an exact 48-bit integer with plain arithmetic on both
sides. Internal operators that never face the oracle (salting, bucketing)
keep using ``xxhash64`` — it is faster and stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 48-bit md5 prefix → bigint. Exact-match DuckDB formulation:
#   list_sum(list_transform(range(12),
#     i -> (strpos('0123456789abcdef', substr(md5(s), i+1, 1))-1)::BIGINT << (4*(11-i))))
MD5_48_DUCKDB_TEMPLATE = (
    "list_sum(list_transform(range(12), i -> "
    "(strpos('0123456789abcdef', substr(md5({expr}), i+1, 1))-1)::BIGINT << (4*(11-i))))"
)


def md5_48(col: Column) -> Column:
    """First 48 bits of md5 as a non-negative bigint (portable)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


# MinHash parameters — shared with the DuckDB oracle; classic universal
# hashing h_j(x) = (a_j*x + b_j) mod p. p = 2^31-1 keeps every result well
# under 2^53 so values survive any float64 round-trip bit-exactly (DuckDB's
# pandas bridge renders HUGEINT sums as float64); a_j < 2^13 and x < 2^48
# keep the product a_j*x < 2^61, inside signed-64 on both engines.
MINHASH_P = (1 << 31) - 1
MINHASH_A = [4097, 5261, 6151, 7177, 8111, 1409, 2693, 3371, 4723, 5881, 6829, 7919, 1201, 2357, 3547, 4441]
MINHASH_B = [211, 379, 557, 733, 919, 1103, 1301, 1487, 1667, 1861, 2053, 2239, 2423, 2617, 2801, 2971]
