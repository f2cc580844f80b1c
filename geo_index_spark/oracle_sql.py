"""ANSI-SQL (DuckDB-dialect) oracle generators for the engine's integer
kernels. Each generator mirrors the staged Catalyst computation
token-for-token (same constants, same stage order) so the driver's
side-by-side correctness gate compares two implementations of the SAME
spec, one in Spark, one in SQL.

DuckDB notes: XOR is the ``xor()`` function; ``& | << >>`` are native
BIGINT operators; all values here stay in u32 range inside signed 64-bit.
"""

from __future__ import annotations

M32 = 4294967295


def _x(a: str, b: str) -> str:
    return f"xor({a}, {b})"


def hilbert_cte(src: str, gx: str, gy: str, keep: str = "*") -> str:
    """Return a SQL query computing column ``hilbert`` =
    hilbert_u32(gx, gy) for every row of relation ``src`` (which must
    expose integer columns/expressions ``gx``/``gy`` in [0, 65535]).
    ``keep`` = comma list of columns to carry through (may be
    qualified like ``p.event_id``; the final SELECT uses bare names)."""
    keep_out = ", ".join(c.strip().split(".")[-1] for c in keep.split(","))
    s = f"""
WITH _h0 AS (
  SELECT {keep}, ({gx})::BIGINT AS gx, ({gy})::BIGINT AS gy FROM {src}
),
_h1 AS (
  SELECT *, {_x('gx', 'gy')} AS ha,
         {_x('65535', 'gx | gy')} AS hc0,
         gx & {_x('gy', '65535')} AS hd0
  FROM _h0
),
_h2 AS (SELECT *, {_x('65535', 'ha')} AS hb FROM _h1),
_h3 AS (
  SELECT *,
    ha | (hb >> 1) AS ha1,
    {_x('ha >> 1', 'ha')} AS hb1,
    {_x(_x('hc0 >> 1', 'hb & (hd0 >> 1)'), 'hc0')} AS hc1,
    {_x(_x('ha & (hc0 >> 1)', 'hd0 >> 1'), 'hd0')} AS hd1
  FROM _h2
)"""
    prev = "1"
    for r, sh in ((2, 2), (3, 4)):
        a, b, c, d = (f"h{n}{prev}" for n in "abcd")
        s += f""",
_h{r + 2} AS (
  SELECT *,
    {_x(f'({a} & ({a} >> {sh}))', f'({b} & ({b} >> {sh}))')} AS ha{r},
    {_x(f'({a} & ({b} >> {sh}))', f'({b} & ({_x(a, b)} >> {sh}))')} AS hb{r},
    {_x(c, _x(f'({a} & ({c} >> {sh}))', f'({b} & ({d} >> {sh}))'))} AS hc{r},
    {_x(d, _x(f'({b} & ({c} >> {sh}))', f'({_x(a, b)} & ({d} >> {sh}))'))} AS hd{r}
  FROM _h{r + 1}
)"""
        prev = str(r)
    a, b, c, d = ("ha3", "hb3", "hc3", "hd3")
    s += f""",
_h6 AS (
  SELECT *,
    {_x(c, _x(f'({a} & ({c} >> 8))', f'({b} & ({d} >> 8))'))} AS hcc,
    {_x(d, _x(f'({b} & ({c} >> 8))', f'({_x(a, b)} & ({d} >> 8))'))} AS hdd
  FROM _h5
),
_h7 AS (
  SELECT *, {_x('hcc', 'hcc >> 1')} AS haa, {_x('hdd', 'hdd >> 1')} AS hbb,
         {_x('gx', 'gy')} AS i0_0
  FROM _h6
),
_h8 AS (
  SELECT *, hbb | {_x('65535', 'i0_0 | haa')} AS i1_0 FROM _h7
)"""
    step = 0
    for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        s += f""",
_h{9 + step} AS (
  SELECT *,
    ((i0_{step} | (i0_{step} << {sh})) & {M32}) & {mask} AS i0_{step + 1},
    ((i1_{step} | (i1_{step} << {sh})) & {M32}) & {mask} AS i1_{step + 1}
  FROM _h{8 + step}
)"""
        step += 1
    s += f"""
SELECT {keep_out}, (((i1_4 << 1) & {M32}) | i0_4)::BIGINT AS hilbert FROM _h{8 + step}
"""
    return s


def morton_expand_sql(v: str) -> str:
    out = v
    for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        out = f"((({out}) | (({out}) << {sh})) & {mask})"
    return out


def quad_cell_sql(x: str, y: str, level: int, bounds: tuple[float, float, float, float]) -> str:
    """Mirror of operators.tiling.quad_cell_col."""
    lox, loy, hix, hiy = (float(b) for b in bounds)
    n = 1 << level
    gx = f"greatest(0, least({n - 1}, floor((({x}) - ({lox!r})) / ({hix - lox!r}) * {n})))::BIGINT"
    gy = f"greatest(0, least({n - 1}, floor((({y}) - ({loy!r})) / ({hiy - loy!r}) * {n})))::BIGINT"
    return f"(({int(level)}::BIGINT << 58) | ({morton_expand_sql(gx)} | ({morton_expand_sql(gy)} << 1)))"
