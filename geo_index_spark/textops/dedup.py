"""Deduplication operators over a document table.

All four families are pure Catalyst plans (shingles via
``transform(sequence(...))``, hashes via md5-derived integers —
textops/hashes.py), so each ships with a *generated* DuckDB oracle that
is literally the same algorithm in SQL. Spark impl and SQL generator
live side by side so the constants can never drift.

Scale notes (100 TB):
* shingle explosion is a generator (no shuffle); the MinHash signature
  is ONE groupBy(doc) with 2k map-side-combined min() aggregates;
* LSH candidate generation shuffles only (band, value) keys — tiny;
* exact-Jaccard refinement joins only candidate pairs back to shingles
  (semi-join pruned); thresholds compare integers, never floats;
* the all-pairs n-gram join is the *oracle-grade exact* operator —
  at scale you run minhash_near_dup_pairs which bounds the join by LSH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_index_spark.operators.join import _shuffle_partitions
from geo_index_spark.textops.hashes import P, h32_col, h32_sql, hp_sql, seeds

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One surviving row per distinct text: (doc_id = min id, n_copies).
    A single hash-shuffle groupBy; at scale group on md5(text) so the
    shuffle key is 16 bytes, not the document."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies", "text_md5")
    )


def exact_dedup_sql(id_col: str = "doc_id", text_col: str = "text", table: str = "documents") -> str:
    return f"""
    SELECT min({id_col}) AS {id_col}, count(*) AS n_copies, md5({text_col}) AS text_md5
    FROM {table} GROUP BY md5({text_col})
    """


# ---------------------------------------------------------------------------
# character n-gram shingles
# ---------------------------------------------------------------------------

def shingles(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) distinct character n-grams — generator-only, no UDF."""
    arr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(0), F.length(text_col) - F.lit(n - 1))),
        lambda i: F.substr(F.col(text_col), i, F.lit(n)),
    )
    return (
        docs.filter(F.length(text_col) >= n)
        .select(F.col(id_col).alias("id"), F.explode(F.array_distinct(arr)).alias("s"))
    )


def _shingles_sql(id_col: str, text_col: str, n: int, table: str) -> str:
    # scalar range() + unnest — the lateral-free spelling DuckDB accepts
    return f"""
    SELECT DISTINCT id, substring(txt, i::INT, {n}) AS s FROM (
      SELECT {id_col} AS id, {text_col} AS txt,
             unnest(range(1, length({text_col}) - {n} + 2)) AS i
      FROM {table} WHERE length({text_col}) >= {n}
    )
    """


# ---------------------------------------------------------------------------
# exact n-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """All unordered pairs with shingle Jaccard >= tau_num/tau_den.
    Exact integer threshold: I*(den+num) >= num*(|A|+|B|)."""
    sh = shingles(docs, id_col, text_col, n).cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.withColumnsRenamed({"id": "a"})
    b = sh.withColumnsRenamed({"id": "b"})
    inter = (
        a.join(b, on="s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "a", "sz": "sza"}), "a")
        .join(sizes.withColumnsRenamed({"id": "b", "sz": "szb"}), "b")
        .filter(
            F.col("inter") * F.lit(tau_den + tau_num)
            >= F.lit(tau_num) * (F.col("sza") + F.col("szb"))
        )
        .select(F.col("a").alias("a_id"), F.col("b").alias("b_id"))
    )
    return out


def ngram_jaccard_pairs_sql(
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    tau_num: int = 1,
    tau_den: int = 2,
    table: str = "documents",
) -> str:
    return f"""
    WITH sh AS ({_shingles_sql(id_col, text_col, n, table)}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT x.id AS a, y.id AS b, count(*) AS inter
      FROM sh x JOIN sh y ON x.s = y.s AND x.id < y.id
      GROUP BY x.id, y.id
    )
    SELECT i.a AS a_id, i.b AS b_id
    FROM inter i JOIN sizes sa ON sa.id = i.a JOIN sizes sb ON sb.id = i.b
    WHERE i.inter * {tau_den + tau_num} >= {tau_num} * (sa.sz + sb.sz)
    """


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs (LSH candidates refined by exact Jaccard)
# ---------------------------------------------------------------------------

def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    num_hashes: int = 16,
    band_rows: int = 4,
    tau_num: int = 1,
    tau_den: int = 2,
    refine: str = "auto",
    broadcast_max_shingles: int = 10_000_000,
) -> DataFrame:
    """MinHash/LSH: ``num_hashes`` signatures grouped into bands of
    ``band_rows`` rows; candidates collide on a whole band (collision
    prob J^r per band — this keeps dissimilar pairs out of the
    candidate join, which is what makes the operator viable at scale),
    then are refined by exact integer-threshold Jaccard. Deterministic —
    the SQL oracle replays the identical LSH, so output parity is exact,
    not probabilistic.

    ``refine`` picks the exact-Jaccard intersection strategy (both
    produce identical output — parity pytest-pinned):

    * ``"broadcast"`` — per-doc sorted shingle-hash sets broadcast to
      every executor, intersections via ``array_intersect``. Fastest
      when the whole corpus' shingle sets fit in executor memory;
      does NOT scale past that (an O(corpus) broadcast).
    * ``"counting"`` — the candidates x shingles counting join:
      explode shingles only for docs that appear in a candidate pair
      (semi-join pruned), equi-join on (doc, shingle), count matches
      per pair. Pure shuffle — no memory ceiling; the 100 TB path.
    * ``"auto"`` — counts the (cached) shingle table and broadcasts
      iff it has <= ``broadcast_max_shingles`` rows (~16 B/row -> the
      default gates the broadcast at ~160 MB)."""
    if num_hashes % band_rows:
        raise ValueError("num_hashes must be a multiple of band_rows")
    spark = docs.sparkSession
    par = _shuffle_partitions(spark)
    # repartition BEFORE the shingle explode: a single-file doc table
    # otherwise runs the whole md5 stage on one core.
    # ONE md5 per shingle: the MinHash base hash (first 8 hex chars) and
    # the 60-bit refine key (first 15) are both prefixes of the SAME
    # digest, so the digest is projected once in its own stage (staged
    # alias — CollapseProject keeps non-cheap multi-referenced aliases
    # un-inlined, the hilbert.py discipline) instead of hashing every
    # shingle twice (round-6 plan: a second full md5 pass fed `keyed`).
    # The cache also drops the shingle STRING — (id, h, k) is ~1/3 the
    # bytes of (id, s, h) and no downstream consumer needs `s`.
    # Intersections use the 60-bit md5-prefix key: long compares ~10x
    # faster than strings; collision odds ~|vocab|^2 / 2^61 — negligible,
    # and equal for Spark and the SQL oracle since both compare exact
    # sets up to that hash.
    sh = (
        shingles(docs.repartition(par), id_col, text_col, n)
        .select("id", F.md5(F.col("s")).alias("_md"))
        .select(
            "id",
            (F.conv(F.substring(F.col("_md"), 1, 8), 16, 10).cast("long") % F.lit(P)).alias("h"),
            F.conv(F.substring(F.col("_md"), 1, 15), 16, 10).cast("long").alias("k"),
        )
        .cache()
    )
    return _minhash_pairs(
        sh, "k", num_hashes, band_rows, par, tau_num, tau_den, refine, broadcast_max_shingles
    )


def _minhash_pairs(
    sh: DataFrame,
    key: str,
    num_hashes: int,
    band_rows: int,
    par: int,
    tau_num: int,
    tau_den: int,
    refine: str,
    broadcast_max_shingles: int,
) -> DataFrame:
    """The MinHash/LSH core both variants share: over the cached
    hashed-shingle frame ``sh`` (``id``, base hash ``h`` in [0, P), and
    the refine key column ``key``), one signature aggregate, the band
    self-join for candidates, and the exact-Jaccard refine."""
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(P)).alias(f"mh{j}")
        for j, (a, b) in enumerate(seeds(num_hashes))
    ] + [F.count(F.lit(1)).alias("sz")]
    # the signature table is one row per doc — localCheckpoint it so the
    # band self-join below reads a materialized table instead of
    # re-running the 17-agg groupBy over every cached shingle row once
    # per (band x join-side) consumer (8x at the default 4 bands —
    # measured as the dominant cost of the round-6 plan, guide §2.4)
    sig = sh.groupBy("id").agg(*aggs).localCheckpoint()
    n_bands = num_hashes // band_rows
    bandarr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"mh{b * band_rows + r}") for r in range(band_rows)]
                ).alias("v"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select("id", F.explode(bandarr).alias("_bv")).select(
        "id", F.col("_bv.band").alias("band"), F.col("_bv.v").alias("v")
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on=["band", "v"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    # exact-Jaccard refinement on candidates only, NOT pre-deduped: the
    # broadcast refine dedupes via collect_set for free and the counting
    # refine dedupes after its semi-join prune — a full (id, k)
    # dropDuplicates exchange here would be pure overhead
    keyed = sh.select("id", F.col(key).alias("k"))
    # sizes count distinct shingle STRINGS (what the SQL oracle counts)
    # = the per-doc row count the signature aggregate already computed
    sizes = sig.select("id", "sz")
    if refine == "auto":
        n_shingles = sig.agg(F.sum("sz")).first()[0] or 0
        refine = "broadcast" if n_shingles <= broadcast_max_shingles else "counting"
    return _exact_jaccard_refine(cand, keyed, sizes, par, tau_num, tau_den, refine)


def _exact_jaccard_refine(
    cand: DataFrame,
    keyed: DataFrame,
    sizes: DataFrame,
    par: int,
    tau_num: int,
    tau_den: int,
    refine: str,
) -> DataFrame:
    """Exact integer-threshold Jaccard over candidate pairs. ``cand`` is
    (a, b); ``keyed`` is the (id, k) shingle-key table — it MAY contain
    duplicate (id, k) rows (within-doc hash collisions): ``broadcast``
    dedupes through ``collect_set`` for free, ``counting`` dedupes
    explicitly before counting. ``sizes`` is (id, sz). Both strategies
    produce identical output (pytest-pinned): ``broadcast`` ships
    per-doc sorted key sets to every executor (fast while the corpus'
    sets fit in executor memory), ``counting`` is the candidates x
    shingles counting join — pure shuffle, no memory ceiling, the
    100 TB path."""
    # AQE would coalesce millions of candidate pairs into one task; the
    # refine stage must stay wide
    cand = cand.repartition(par, "a", "b")
    if refine == "broadcast":
        # one row per doc with a sorted key array — checkpoint it so the
        # two broadcast builds below read one materialization instead of
        # each re-running the collect_set aggregation over every shingle
        sets = (
            keyed.groupBy("id")
            .agg(F.sort_array(F.collect_set("k")).alias("hs"))
            .join(sizes, "id")
            .localCheckpoint()
        )
        inter = (
            cand.join(
                F.broadcast(sets.select(F.col("id").alias("a"), F.col("hs").alias("ha"), F.col("sz").alias("sza"))),
                "a",
            )
            .join(
                F.broadcast(sets.select(F.col("id").alias("b"), F.col("hs").alias("hb"), F.col("sz").alias("szb"))),
                "b",
            )
            .select(
                "a", "b", "sza", "szb",
                F.size(F.array_intersect(F.col("ha"), F.col("hb"))).alias("inter"),
            )
        )
    elif refine == "counting":
        # shingles of candidate docs only (semi-join pruned), equi-join
        # on (doc, shingle-key), count matches per pair. Zero-
        # intersection candidates drop out of the inner join — they
        # cannot pass the tau filter anyway (tau_num >= 1).
        cand_ids = (
            cand.select(F.col("a").alias("id"))
            .union(cand.select(F.col("b").alias("id")))
            .distinct()
        )
        shp = keyed.join(cand_ids, "id", "left_semi").dropDuplicates(["id", "k"])
        pa = shp.select(F.col("id").alias("a"), "k")
        pb = shp.select(F.col("id").alias("b"), "k")
        inter = (
            cand.join(pa, "a")
            .join(pb, ["b", "k"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
            .join(sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza")), "a")
            .join(sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb")), "b")
        )
    else:
        raise ValueError(f"refine must be auto|broadcast|counting, got {refine!r}")
    return (
        inter.filter(
            F.col("inter") * F.lit(tau_den + tau_num)
            >= F.lit(tau_num) * (F.col("sza") + F.col("szb"))
        )
        .select(F.col("a").alias("a_id"), F.col("b").alias("b_id"))
    )


def minhash_near_dup_pairs_sql(
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    num_hashes: int = 16,
    band_rows: int = 4,
    tau_num: int = 1,
    tau_den: int = 2,
    table: str = "documents",
) -> str:
    seed_rows = ", ".join(f"({j}, {a}::BIGINT, {b}::BIGINT)" for j, (a, b) in enumerate(seeds(num_hashes)))
    return f"""
    WITH sh0 AS ({_shingles_sql(id_col, text_col, n, table)}),
    sh AS (SELECT id, s, {hp_sql('s')} AS h FROM sh0),
    seeds(j, a, b) AS (VALUES {seed_rows}),
    sig AS (
      SELECT id, j, min((a * h + b) % {P}) AS v
      FROM sh, seeds GROUP BY id, j
    ),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    bands AS (
      SELECT id, j // {band_rows} AS band,
             string_agg(v::VARCHAR, '_' ORDER BY j) AS bv
      FROM sig GROUP BY id, j // {band_rows}
    ),
    cand AS (
      SELECT DISTINCT x.id AS a, y.id AS b
      FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv AND x.id < y.id
    ),
    inter AS (
      SELECT c.a, c.b, count(*) AS inter
      FROM cand c
      JOIN sh p ON p.id = c.a
      JOIN sh q ON q.id = c.b AND q.s = p.s
      GROUP BY c.a, c.b
    )
    SELECT i.a AS a_id, i.b AS b_id
    FROM inter i JOIN sizes sa ON sa.id = i.a JOIN sizes sb ON sb.id = i.b
    WHERE i.inter * {tau_den + tau_num} >= {tau_num} * (sa.sz + sb.sz)
    """


# ---------------------------------------------------------------------------
# SimHash near-dup pairs
# ---------------------------------------------------------------------------

_TOKEN_RE = "[^a-z0-9]+"


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    arr = F.array_distinct(F.split(F.lower(F.col(text_col)), _TOKEN_RE))
    return docs.select(F.col(id_col).alias("id"), F.explode(arr).alias("t")).filter(
        F.col("t") != ""
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) — 32-bit SimHash over distinct lowercase word
    tokens: bit k is 1 iff the majority of token hashes set bit k
    (ties -> 0). One groupBy with 32 integer sums (map-side combined)."""
    tok = _tokens(docs, id_col, text_col).withColumn("h", h32_col(F.col("t")))
    sums = [
        F.sum(
            F.shiftrightunsigned(F.col("h"), k).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1)
        ).alias(f"s{k}")
        for k in range(32)
    ]
    agg = tok.groupBy("id").agg(*sums)
    fp = None
    for k in range(32):
        bit = F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("id", fp.cast("long").alias("simhash"))


def simhash_sql(id_col: str = "doc_id", text_col: str = "text", table: str = "documents") -> str:
    sums = ", ".join(
        f"sum(((h >> {k}) & 1) * 2 - 1) AS s{k}" for k in range(32)
    )
    fp = " + ".join(f"(CASE WHEN s{k} > 0 THEN {1 << k}::BIGINT ELSE 0 END)" for k in range(32))
    return f"""
    WITH tok0 AS (
      SELECT DISTINCT {id_col} AS id, t
      FROM (SELECT {id_col}, unnest(regexp_split_to_array(lower({text_col}), '{_TOKEN_RE}')) AS t FROM {table})
      WHERE t <> ''
    ),
    tok AS (SELECT id, {h32_sql('t')} AS h FROM tok0),
    agg AS (SELECT id, {sums} FROM tok GROUP BY id)
    SELECT id, ({fp})::BIGINT AS simhash FROM agg
    """


def simhash_wide(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
    hash_col=None,
) -> DataFrame:
    """(id, simhash) — ``n_bits``-wide SimHash over distinct lowercase
    word tokens; ``hash_col`` maps the token Column to a LONG whose low
    ``n_bits`` are used (default ``xxhash64`` — one JVM hash, no md5
    round trip). Same majority-vote construction as :func:`simhash`
    (ties -> 0). One groupBy with ``n_bits`` integer sums (map-side
    combined)."""
    if not 1 <= int(n_bits) <= 64:
        raise ValueError("n_bits must be in 1..64")
    n_bits = int(n_bits)
    if hash_col is None:
        hash_col = F.xxhash64
    tok = _tokens(docs, id_col, text_col).withColumn("h", hash_col(F.col("t")))
    sums = [
        F.sum(
            F.shiftrightunsigned(F.col("h"), k).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1)
        ).alias(f"s{k}")
        for k in range(n_bits)
    ]
    agg = tok.groupBy("id").agg(*sums)
    # assemble the fingerprint in two <=32-bit halves — 1 << 63
    # overflows a signed-long literal, shiftleft(hi, 32) does not
    lo = None
    hi = None
    for k in range(min(32, n_bits)):
        lbit = F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        lo = lbit if lo is None else lo + lbit
    for k in range(32, n_bits):
        hbit = F.when(F.col(f"s{k}") > 0, F.lit(1 << (k - 32))).otherwise(F.lit(0))
        hi = hbit if hi is None else hi + hbit
    fp = lo.cast("long")
    if hi is not None:
        fp = F.shiftleft(hi.cast("long"), 32).bitwiseOR(fp)
    return agg.select("id", fp.alias("simhash"))


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash, token hashes via ``xxhash64`` — the scale path
    of :func:`simhash`: at billions of docs a 32-bit fingerprint
    saturates (random 32-bit collisions at ~2^16 docs per bucket) and
    8-bit bands admit ~n^2/256 candidates per band; 64 bits with
    16-bit bands give 65,536 buckets per band. No SQL oracle for THIS
    hash (xxhash64 is Spark-specific); the identical machinery is
    driver-verified through :func:`simhash_wide_pairs` at n_bits=60
    with the cross-engine H60 hash, and the xxhash64 instantiation's
    candidate completeness + banding pigeonhole are pytest-pinned."""
    return simhash_wide(docs, id_col, text_col, n_bits=64)


def simhash_wide_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
    n_bands: int = 4,
    max_hamming: int = 3,
    hash_col=None,
) -> DataFrame:
    """Pairs with ``n_bits``-wide SimHash Hamming distance <=
    ``max_hamming``. Candidates collide on one of ``n_bands`` equal
    bands (pigeonhole-complete for ``max_hamming < n_bands``: a pair
    differing in fewer bits than there are bands leaves at least one
    band untouched); refined by ``bit_count(xor)``."""
    n_bits, n_bands = int(n_bits), int(n_bands)
    if n_bits % n_bands:
        raise ValueError("n_bands must divide n_bits evenly")
    if int(max_hamming) >= n_bands:
        raise ValueError("banding is only pigeonhole-complete for max_hamming < n_bands")
    width = n_bits // n_bands
    mask = (1 << width) - 1
    # one row per doc — checkpoint so the band self-join below does not
    # re-run the n_bits-sum token aggregation once per (band x side)
    s = simhash_wide(docs, id_col, text_col, n_bits, hash_col).localCheckpoint()
    parts = []
    for band in range(n_bands):
        key = F.shiftrightunsigned(F.col("simhash"), width * band).bitwiseAND(F.lit(mask))
        parts.append(s.select("id", "simhash", F.lit(band).alias("band"), key.alias("k")))
    bands = parts[0]
    for p in parts[1:]:
        bands = bands.unionAll(p)
    x = bands.withColumnsRenamed({"id": "a", "simhash": "fa"})
    y = bands.withColumnsRenamed({"id": "b", "simhash": "fb"})
    cand = (
        x.join(y, on=["band", "k"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "fa", "b", "fb")
        .distinct()
    )
    return cand.filter(
        F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= F.lit(int(max_hamming))
    ).select(F.col("a").alias("a_id"), F.col("b").alias("b_id"))


def simhash64_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with 64-bit SimHash Hamming distance <= max_hamming —
    :func:`simhash_wide_pairs` at the production instantiation
    (xxhash64 tokens, 4 sixteen-bit bands)."""
    return simhash_wide_pairs(
        docs, id_col, text_col, n_bits=64, n_bands=4, max_hamming=max_hamming
    )


def simhash_wide_pairs_sql(
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
    n_bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> str:
    """DuckDB mirror of :func:`simhash_wide_pairs` with the H60
    cross-engine token hash (60 = widest md5-prefix hash that fits
    signed 64-bit in both engines): identical token stream, identical
    majority votes, identical band keys and bit_count refine — exact
    parity for the wide-simhash machinery that :func:`simhash64_pairs`
    runs with xxhash64 in production."""
    from geo_index_spark.textops.hashes import h60_sql

    n_bits, n_bands = int(n_bits), int(n_bands)
    if n_bits % n_bands:
        raise ValueError("n_bands must divide n_bits evenly")
    width = n_bits // n_bands
    mask = (1 << width) - 1
    sums = ", ".join(f"sum(((h >> {k}) & 1) * 2 - 1) AS s{k}" for k in range(n_bits))
    fp = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN {1 << k}::BIGINT ELSE 0 END)" for k in range(n_bits)
    )
    bandvals = ", ".join(f"({b})" for b in range(n_bands))
    return f"""
    WITH tok0 AS (
      SELECT DISTINCT {id_col} AS id, t
      FROM (SELECT {id_col}, unnest(regexp_split_to_array(lower({text_col}), '{_TOKEN_RE}')) AS t FROM {table})
      WHERE t <> ''
    ),
    tok AS (SELECT id, {h60_sql('t')} AS h FROM tok0),
    agg AS (SELECT id, {sums} FROM tok GROUP BY id),
    fp AS (SELECT id, ({fp})::BIGINT AS simhash FROM agg),
    bands AS (
      SELECT id, simhash, band, (simhash >> ({width} * band)) & {mask} AS k
      FROM fp CROSS JOIN (VALUES {bandvals}) b(band)
    ),
    cand AS (
      SELECT DISTINCT x.id AS a, x.simhash AS fa, y.id AS b, y.simhash AS fb
      FROM bands x JOIN bands y ON x.band = y.band AND x.k = y.k AND x.id < y.id
    )
    SELECT a AS a_id, b AS b_id FROM cand
    WHERE bit_count(xor(fa, fb)) <= {int(max_hamming)}
    """


def minhash_near_dup_pairs_fast(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    num_hashes: int = 16,
    band_rows: int = 4,
    tau_num: int = 1,
    tau_den: int = 2,
    refine: str = "auto",
    broadcast_max_shingles: int = 10_000_000,
) -> DataFrame:
    """Production fast path of :func:`minhash_near_dup_pairs`: shingle
    hashes via ``xxhash64`` (one JVM hash per shingle instead of an md5
    hex round-trip — ~5x cheaper) with the same banding/refinement.
    Same *semantics* (LSH candidates refined by exact integer-threshold
    Jaccard) but a different hash family, so candidate sets differ from
    the oracle-grade variant; refined TRUE near-dups agree at high
    similarity (pytest-pinned). No SQL oracle by construction."""
    if num_hashes % band_rows:
        raise ValueError("num_hashes must be a multiple of band_rows")
    spark = docs.sparkSession
    par = _shuffle_partitions(spark)
    sh = (
        shingles(docs.repartition(par), id_col, text_col, n)
        .select("id", F.pmod(F.xxhash64("s"), F.lit(P)).alias("h"))
        .cache()
    )
    return _minhash_pairs(
        sh, "h", num_hashes, band_rows, par, tau_num, tau_den, refine, broadcast_max_shingles
    )


def collapse_near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Collapse near-dup PAIRS into clusters and keep one representative
    per cluster (min id) — the step a training-data pipeline runs after
    any near-dup detector.

    Connected components via min-label propagation + pointer jumping
    (label := label-of-label each round), expressed as DataFrame joins
    (no GraphFrames dependency). Pointer jumping halves component depth
    per round, so convergence is O(log diameter) shuffles; lineage is
    truncated every round with ``localCheckpoint`` (iterative joins
    otherwise stack an exponentially deep plan — same hazard class as
    PLANS.md #1).

    Returns (doc_id, cluster_id, is_representative).
    """
    edges = (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .unionAll(pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = docs.select(
        F.col(id_col).alias("u"), F.col(id_col).alias("label")
    ).localCheckpoint()
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.withColumnsRenamed({"u": "v", "label": "nl"}), "v")
            .groupBy("u")
            .agg(F.min("nl").alias("nmin"))
        )
        l1 = labels.join(neighbor_min, "u", "left").select(
            "u",
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("l1"),
        )
        # pointer jumping: adopt the label of your label
        jump = l1.join(
            l1.select(F.col("u").alias("l1"), F.col("l1").alias("l2")), "l1", "left"
        ).select(
            "u", F.least(F.col("l1"), F.coalesce(F.col("l2"), F.col("l1"))).alias("new_label")
        )
        new_labels = jump.localCheckpoint()
        changed = (
            new_labels.join(labels, "u")
            .filter(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels.withColumnRenamed("new_label", "label")
        if changed == 0:
            break
    return labels.select(
        F.col("u").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("u") == F.col("label")).alias("is_representative"),
    )


def collapse_near_dup_clusters_sql(
    pairs_sql: str,
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    """DuckDB mirror of :func:`collapse_near_dup_clusters` given a pairs
    query emitting (a_id, b_id). Min-label connected components reach
    the same fixpoint via a recursive transitive closure (UNION
    dedups, so the recursion terminates); cluster_id = min reachable
    id = exactly what min-label propagation + pointer jumping converges
    to. Oracle-scale only — closure is quadratic in component size."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id AS u, a_id AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
    SELECT d.{id_col} AS {id_col},
           coalesce(c.cluster_id, d.{id_col})::BIGINT AS cluster_id,
           (d.{id_col} = coalesce(c.cluster_id, d.{id_col})) AS is_representative
    FROM {table} d LEFT JOIN comp c ON c.u = d.{id_col}
    """


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= max_hamming. Candidates
    collide on one of 4 bytes of the fingerprint (pigeonhole-complete
    for distance <= 3); refined by bit_count(xor)."""
    # checkpointed for the same reason as simhash_wide_pairs: the band
    # self-join would otherwise re-run the 32-sum aggregation 8x
    s = simhash(docs, id_col, text_col).localCheckpoint()
    parts = []
    for byte in range(4):
        key = F.shiftrightunsigned(F.col("simhash"), 8 * byte).bitwiseAND(F.lit(0xFF))
        parts.append(s.select("id", "simhash", F.lit(byte).alias("band"), key.alias("k")))
    bands = parts[0]
    for p in parts[1:]:
        bands = bands.unionAll(p)
    x = bands.withColumnsRenamed({"id": "a", "simhash": "fa"})
    y = bands.withColumnsRenamed({"id": "b", "simhash": "fb"})
    cand = (
        x.join(y, on=["band", "k"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "fa", "b", "fb")
        .distinct()
    )
    out = cand.filter(
        F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= F.lit(max_hamming)
    ).select(F.col("a").alias("a_id"), F.col("b").alias("b_id"))
    return out


def simhash_pairs_sql(
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    table: str = "documents",
) -> str:
    base = simhash_sql(id_col, text_col, table)
    bands = " UNION ALL ".join(
        f"SELECT id, simhash, {byte} AS band, (simhash >> {8 * byte}) & 255 AS k FROM s"
        for byte in range(4)
    )
    return f"""
    WITH s AS ({base}),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT x.id AS a, x.simhash AS fa, y.id AS b, y.simhash AS fb
      FROM bands x JOIN bands y ON x.band = y.band AND x.k = y.k AND x.id < y.id
    )
    SELECT a AS a_id, b AS b_id FROM cand
    WHERE bit_count(xor(fa, fb)) <= {max_hamming}
    """
