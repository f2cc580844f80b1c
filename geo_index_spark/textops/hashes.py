"""Cross-engine deterministic hashing for text operators.

Every dedup operator must match its ANSI-SQL oracle *bit for bit*, so we
cannot use engine-specific hashes (Spark xxhash64 vs DuckDB hash()).
Shared spec:

  H32(s)  = int(first 8 hex chars of md5(s), 16)          in [0, 2^32)
  HP(s)   = H32(s) % P,  P = 2147483647 (Mersenne 2^31-1)
  mh_j(S) = min over s in S of (A_j * HP(s) + B_j) % P    (MinHash)

A_j/B_j come from a fixed Weyl-style sequence so the Spark expression
generator and the SQL oracle generator share literal constants.
``A_j * HP + B_j`` < 2^62 fits signed 64-bit in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P = 2147483647


def seeds(num_hashes: int) -> list[tuple[int, int]]:
    out = []
    for j in range(num_hashes):
        a = (2 * j + 1) * 2654435761 % P
        b = (j * 40503 + 12345) % P
        out.append((a, b))
    return out


def h32_col(s: Column) -> Column:
    """Spark H32."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    """DuckDB H32 of a SQL expression."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def h60_col(s: Column) -> Column:
    """Spark H60 — 60-bit cross-engine hash (first 15 hex chars of md5;
    2^60 fits signed 64-bit in both engines, so no unsigned-cast
    divergence). The oracle-grade stand-in for ``xxhash64`` wherever a
    WIDE token hash must replay bit-for-bit in DuckDB."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """DuckDB H60 of a SQL expression."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def hp_sql(expr: str) -> str:
    return f"({h32_sql(expr)} % {P})"
