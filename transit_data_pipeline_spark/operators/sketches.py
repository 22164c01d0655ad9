"""Sketch operators: distributed cardinality estimation that stays
deterministic.

Spark's `approx_count_distinct` (HyperLogLog++) and DuckDB's
`approx_count_distinct` use different sketches, so they can never
cross-check. A KMV (k-minimum-values) sketch over a keyed md5 hash is
just as mergeable — the k smallest hashes of a union are a subset of
the union of each side's k smallest — but every engine computes the
SAME estimate, which keeps the sketch inside the bitwise oracle gate.

Estimator: with u_k = the k-th smallest hash mapped into (0,1),
D̂ = (k−1)/u_k  (Bar-Yossef et al., 2002). Relative error ~ 1/√k.

At 100 TB the same plan holds: per-partition top-k-smallest partials
(the window below becomes a partial aggregate), merged once — state is
k hashes per group, independent of cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import numeric as N
from ._util import _pin
from .registry import register

_K = 64
#: Map the first 15 hex digits of md5 into (0,1): 15 digits = 60 bits,
#: exactly representable in a double, identical in both engines.
_DENOM = float(16**15)


@register(
    "sketch_kmv_distinct",
    ops=("A2", "W4"),
    doc="KMV distinct-count sketch per order priority: k=64 minimum "
    "md5 hash values per group → (k−1)/u_k estimate, emitted beside "
    "the exact COUNT(DISTINCT) so the error is visible. Deterministic "
    "keyed hashing makes the sketch itself oracle-checkable — unlike "
    "HLL, where every engine's estimate differs.",
    oracle=f"""
WITH hashed AS (
  SELECT DISTINCT o_orderpriority,
    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
      / {_DENOM!r} AS u
  FROM orders
), ranked AS (
  SELECT o_orderpriority, u,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY u) AS rn
  FROM hashed
), kth AS (
  SELECT o_orderpriority, MAX(u) AS u_k, COUNT(*) AS n_kept
  FROM ranked WHERE rn <= {_K}
  GROUP BY o_orderpriority
), exact AS (
  SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_distinct
  FROM orders GROUP BY o_orderpriority
)
SELECT e.o_orderpriority, e.exact_distinct,
  CASE WHEN k.n_kept < {_K} THEN CAST(k.n_kept AS DOUBLE)
       ELSE ({_K} - 1) / k.u_k END AS kmv_estimate
FROM exact e JOIN kth k ON e.o_orderpriority = k.o_orderpriority
""",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(_DENOM)
    )
    hashed = o.select("o_orderpriority", u.alias("u")).distinct()
    rn = F.row_number().over(
        Window.partitionBy("o_orderpriority").orderBy("u")
    )
    kth = (
        hashed.withColumn("rn", rn)
        .filter(F.col("rn") <= _K)
        .groupBy("o_orderpriority")
        .agg(F.max("u").alias("u_k"), F.count(F.lit(1)).alias("n_kept"))
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_kept") < _K, F.col("n_kept").cast("double")
    ).otherwise((_K - 1) / F.col("u_k"))
    return exact.join(kth, "o_orderpriority").select(
        "o_orderpriority", "exact_distinct", est.alias("kmv_estimate")
    )


_CM_DEPTH, _CM_WIDTH = 4, 256


@register(
    "sketch_countmin_freq",
    ops=("A1", "J10"),
    doc="Count-Min frequency sketch over the event stream: depth×width "
    "= 4×256 counters, bucket = keyed md5 hash per row; the count "
    "table is one groupBy over (row, bucket) — mergeable partials, "
    "state independent of key cardinality, the standard heavy-hitter "
    "estimator at stream scale. Point estimates (min over rows) are "
    "emitted beside the exact counts so the overestimate is visible; "
    "deterministic hashing keeps the sketch itself oracle-checkable.",
    oracle=f"""
WITH rows_ AS (SELECT unnest(generate_series(0, {_CM_DEPTH - 1})) AS r),
bucketed AS (
  SELECT r.r,
    CAST(concat('0x', substr(md5(concat(e.event_type, ':', CAST(r.r AS VARCHAR))), 1, 8)) AS BIGINT)
      % {_CM_WIDTH} AS bucket,
    COUNT(*) AS c
  FROM events e CROSS JOIN rows_ r
  GROUP BY 1, 2
),
keys_ AS (SELECT DISTINCT event_type FROM events),
key_buckets AS (
  SELECT k.event_type, r.r,
    CAST(concat('0x', substr(md5(concat(k.event_type, ':', CAST(r.r AS VARCHAR))), 1, 8)) AS BIGINT)
      % {_CM_WIDTH} AS bucket
  FROM keys_ k CROSS JOIN rows_ r
),
est AS (
  SELECT kb.event_type, MIN(b.c) AS cm_estimate
  FROM key_buckets kb JOIN bucketed b ON kb.r = b.r AND kb.bucket = b.bucket
  GROUP BY 1
),
exact AS (SELECT event_type, COUNT(*) AS exact_count FROM events GROUP BY 1)
SELECT e.event_type, e.exact_count, s.cm_estimate,
  s.cm_estimate >= e.exact_count AS never_underestimates
FROM exact e JOIN est s ON e.event_type = s.event_type
""",
)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    rows = spark.range(_CM_DEPTH).select(F.col("id").cast("int").alias("r"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("event_type"), F.col("r"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % _CM_WIDTH
    )
    bucketed = (
        e.select("event_type")
        .crossJoin(F.broadcast(rows))
        .groupBy("r", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    keys = e.select("event_type").distinct()
    key_buckets = keys.crossJoin(F.broadcast(rows)).select(
        "event_type", "r", bucket.alias("bucket")
    )
    est = (
        key_buckets.join(bucketed, ["r", "bucket"])
        .groupBy("event_type")
        .agg(F.min("c").alias("cm_estimate"))
    )
    exact = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") >= F.col("exact_count")).alias("never_underestimates"),
    )


#: HLL geometry: m=64 registers (6 index bits), 32-bit rank pattern,
#: alpha_64 = 0.709. POWER(2.0, 33−M) is an exact integer ≤ 2^33 in
#: a double, so the register sum is EXACT BIGINT arithmetic — the
#: whole estimate has exactly one floating division.
_HLL_M = 64
_HLL_ALPHA = 0.709
_HLL_SHIFT = 8589934592.0  # 2^33


@register(
    "sketch_hll_distinct",
    ops=("A2", "J10", "A3"),
    doc="Deterministic HyperLogLog per order priority: md5-derived "
    "register index (6 bits) + rank (leading zeros of a 32-bit "
    "pattern via length(bin(v))), register max, exact-integer "
    "register sum Σ2^(33−M), one double division for the estimate. "
    "Unlike approx_count_distinct (whose sketch differs per engine), "
    "this HLL is bitwise oracle-checkable. Mergeable at 100 TB: "
    "register state is 64 bytes per group, partial-aggregate "
    "friendly.",
    oracle=f"""
WITH h AS (
  SELECT o_orderpriority AS priority,
    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2)) AS BIGINT) % {_HLL_M} AS reg,
    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 3, 8)) AS BIGINT) AS v32
  FROM orders
),
m AS (
  SELECT priority, reg,
         MAX(CASE WHEN v32 > 0 THEN 33 - length(bin(v32)) ELSE 33 END) AS mreg
  FROM h GROUP BY 1, 2
),
grid AS (
  SELECT p.priority, t.reg
  FROM (SELECT DISTINCT o_orderpriority AS priority FROM orders) p, range(0, {_HLL_M}) t(reg)
),
s AS (
  SELECT g.priority,
         SUM(CAST(POWER(2.0, 33 - COALESCE(m.mreg, 0)) AS BIGINT)) AS denom
  FROM grid g LEFT JOIN m ON g.priority = m.priority AND g.reg = m.reg
  GROUP BY 1
),
exact AS (
  SELECT o_orderpriority AS priority, COUNT(DISTINCT o_custkey) AS exact_distinct
  FROM orders GROUP BY 1
)
SELECT e.priority, e.exact_distinct,
  {_HLL_ALPHA!r} * {_HLL_M} * {_HLL_M} * {_HLL_SHIFT!r} / CAST(s.denom AS DOUBLE)
    AS hll_estimate
FROM exact e JOIN s ON e.priority = s.priority
""",
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    md5 = F.md5(F.col("o_custkey").cast("string"))
    reg = (
        F.conv(F.substring(md5, 1, 2), 16, 10).cast("bigint") % _HLL_M
    ).alias("reg")
    v32 = F.conv(F.substring(md5, 3, 8), 16, 10).cast("bigint").alias("v32")
    h = o.select(F.col("o_orderpriority").alias("priority"), reg, v32)
    rank = F.when(F.col("v32") > 0, 33 - F.length(F.bin(F.col("v32")))).otherwise(
        F.lit(33)
    )
    m = h.groupBy("priority", "reg").agg(F.max(rank).alias("mreg"))
    grid = (
        o.select(F.col("o_orderpriority").alias("priority")).distinct()
        .crossJoin(spark.range(0, _HLL_M).select(F.col("id").alias("reg")))
    )
    s = (
        grid.join(m, ["priority", "reg"], "left")
        .groupBy("priority")
        .agg(
            F.sum(
                F.pow(F.lit(2.0), 33 - F.coalesce(F.col("mreg"), F.lit(0))).cast(
                    "bigint"
                )
            ).alias("denom")
        )
    )
    exact = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    est = (
        F.lit(_HLL_ALPHA)
        * _HLL_M
        * _HLL_M
        * F.lit(_HLL_SHIFT)
        / F.col("denom").cast("double")
    )
    return exact.join(s, "priority").select(
        "priority", "exact_distinct", est.alias("hll_estimate")
    )


_HQ_BINS = 256
_HQ_QS = "[0.25, 0.5, 0.75, 0.95]"


@register(
    "sketch_histogram_quantiles",
    ops=("A8", "A1", "W11"),
    doc="Mergeable equi-width histogram quantile sketch (the "
    "distributed-quantile pattern when exact PERCENTILE_CONT's global "
    "sort is too expensive): pass 1 computes (min, max, n) — one cheap "
    "agg; pass 2 bins every value into 256 buckets (map-side combine, "
    "one shuffle of <=256 rows); quantiles come from the cumulative "
    "histogram with linear interpolation inside the landing bucket. "
    "Histogram state is 256 longs regardless of data size and merges "
    "by addition — streaming/partition-parallel friendly. Emitted "
    "beside the exact percentile so the sketch error is visible; both "
    "engines compute the SAME sketch with the same arithmetic, which "
    "keeps an approximate structure inside the bitwise oracle gate "
    "(like the KMV sketch above, unlike HLL/t-digest whose estimates "
    "are engine-specific).",
    oracle=f"""
WITH b AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi, COUNT(*) AS n,
         GREATEST((max(o_totalprice) - min(o_totalprice)) / {_HQ_BINS}.0,
                  1e-12) AS width
  FROM orders
),
binned AS (
  SELECT LEAST(CAST(FLOOR((o_totalprice - b.lo) / b.width) AS INT),
               {_HQ_BINS - 1}) AS bin
  FROM orders, b
),
hist AS (SELECT bin, COUNT(*) AS c FROM binned GROUP BY bin),
cum AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum FROM hist),
qs AS (SELECT unnest({_HQ_QS}) AS q),
pick AS (
  SELECT q, MIN(bin) AS bin
  FROM qs, b, cum WHERE cum >= q * n
  GROUP BY q
),
est AS (
  SELECT p.q,
    b.lo + (p.bin + (p.q * b.n - (cum.cum - cum.c)) / cum.c)
         * b.width AS hist_estimate
  FROM pick p JOIN cum ON p.bin = cum.bin, b
),
ex AS (
  SELECT unnest({_HQ_QS}) AS q,
         unnest(quantile_cont(o_totalprice, {_HQ_QS})) AS exact_value
  FROM orders
)
SELECT ex.q, ex.exact_value, est.hist_estimate
FROM ex JOIN est ON ex.q = est.q
""",
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    bdf = o.agg(
        F.min(x).alias("lo"),
        F.max(x).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        # Degenerate-column guard (min == max → zero width → NaN bins,
        # and the oracle would diverge): floor the width at an epsilon,
        # with the SAME arithmetic on both engines so the hash gate
        # still holds. All values land in bin 0 and every quantile
        # interpolates to ~lo, which is exact for a constant column.
        F.greatest(
            (F.max(x) - F.min(x)) / F.lit(float(_HQ_BINS)), F.lit(1e-12)
        ).alias("width"),
    )
    binned = o.crossJoin(F.broadcast(bdf)).select(
        F.least(
            F.floor((x - F.col("lo")) / F.col("width")).cast("int"),
            F.lit(_HQ_BINS - 1),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    # <=256 rows: the single-partition running sum is bounded by the
    # bin count, not the data.
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    qdf = spark.createDataFrame([(0.25,), (0.5,), (0.75,), (0.95,)], "q double")
    pick = (
        qdf.crossJoin(F.broadcast(bdf))
        .join(F.broadcast(cum), F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q", "lo", "hi", "n", "width")
        .agg(F.min("bin").alias("bin"))
    )
    est = pick.join(F.broadcast(cum), "bin").select(
        "q",
        (
            F.col("lo")
            + (
                F.col("bin")
                + (F.col("q") * F.col("n") - (F.col("cum") - F.col("c")))
                / F.col("c")
            )
            * F.col("width")
        ).alias("hist_estimate"),
    )
    ex = (
        o.agg(
            F.expr(
                "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D))"
            ).alias("p")
        )
        .select(
            F.posexplode(
                F.arrays_zip(
                    F.array(
                        F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)
                    ).alias("q"),
                    F.col("p").alias("v"),
                )
            )
        )
        .select(
            F.col("col.q").alias("q"), F.col("col.v").alias("exact_value")
        )
    )
    return ex.join(est, "q").select("q", "exact_value", "hist_estimate")


# Bloom-filter membership: m bits as 32-bit words (bit values stay
# positive in both engines' int64), k=4 keyed hash probes via
# independent affine hashes mod a Mersenne prime — pure integer
# arithmetic, so Spark and DuckDB build the IDENTICAL filter.
_BLOOM_M = 131072  # bits (4 KiB of words; broadcast-sized at any SF)
_BLOOM_A = (2654435761, 2246822519, 3266489917, 668265263)
_BLOOM_B = (104729, 130363, 195911, 314159)


def _bloom_pos(i: int, key: str = "key") -> str:
    """Bit position of hash i for a key expr (same text both engines)."""
    return f"((({key}) * {_BLOOM_A[i]} + {_BLOOM_B[i]}) % 2147483647) % {_BLOOM_M}"


@register(
    "sketch_bloom_membership",
    ops=("A1", "A9", "J2", "F7"),
    doc="Deterministic Bloom-filter membership: build a 128K-bit "
    "filter over the distinct ordering customers (4 affine hashes, "
    "bit_or into 32-bit words — mergeable map-side partial state), "
    "then probe a generated candidate grid twice the key range (the "
    "upper half is guaranteed negatives). Reports observed "
    "false-positive rate against exact membership. This is the 100 TB "
    "pre-join filter pattern: the filter is KB-sized broadcast state "
    "regardless of fact volume, and the build is one bit_or aggregate.",
    oracle=f"""
WITH mx AS (SELECT MAX(c_custkey) AS mxk FROM customer),
cands AS (SELECT unnest(generate_series(0, 2 * mxk + 1)) AS key FROM mx),
members AS (SELECT DISTINCT o_custkey AS key FROM orders),
mbits AS (
  {" UNION ALL ".join(f"SELECT {_bloom_pos(i)} AS pos FROM members" for i in range(4))}
),
bloom AS (
  SELECT pos // 32 AS word_idx,
    bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS word
  FROM mbits GROUP BY 1
),
pbits AS (
  {" UNION ALL ".join(f"SELECT key, {_bloom_pos(i)} AS pos FROM cands" for i in range(4))}
),
probe AS (
  SELECT p.key,
    CASE WHEN b.word IS NOT NULL AND ((b.word >> (p.pos % 32)) & 1) = 1
         THEN 1 ELSE 0 END AS hit
  FROM pbits p LEFT JOIN bloom b ON p.pos // 32 = b.word_idx
),
per_key AS (
  SELECT key, CASE WHEN SUM(hit) = 4 THEN 1 ELSE 0 END AS bloom_pos
  FROM probe GROUP BY key
),
flagged AS (
  SELECT k.bloom_pos,
    CASE WHEN m.key IS NOT NULL THEN 1 ELSE 0 END AS is_member
  FROM per_key k LEFT JOIN members m ON k.key = m.key
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
  CAST(SUM(is_member) AS BIGINT) AS n_members,
  CAST(SUM(bloom_pos) AS BIGINT) AS n_bloom_positive,
  CAST(SUM(CASE WHEN bloom_pos = 1 AND is_member = 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_false_positive,
  CAST(SUM(CASE WHEN bloom_pos = 1 AND is_member = 0 THEN 1 ELSE 0 END)
       AS DOUBLE) / (COUNT(*) - SUM(is_member)) AS fp_rate
FROM flagged
""",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    members = (
        table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key")).distinct()
    )
    # Candidate grid 0..2·max(custkey)+1: the upper half cannot be a
    # member, giving a guaranteed negative set without a second table.
    cands = (
        table(spark, sf_dir, "customer")
        .agg(F.max("c_custkey").alias("mxk"))
        .select(F.explode(F.sequence(F.lit(0), F.col("mxk") * 2 + 1)).alias("key"))
        .repartition(8)
    )
    mbits = members.select(
        F.explode(F.array(*[F.expr(_bloom_pos(i)) for i in range(4)])).alias("pos")
    )
    bloom = (
        mbits.select(
            F.expr("pos div 32").alias("word_idx"), F.expr("pos % 32").alias("bit")
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(cast(1 as bigint), bit))").alias("word"))
    )
    pbits = cands.select(
        "key",
        F.explode(F.array(*[F.expr(_bloom_pos(i)) for i in range(4)])).alias("pos"),
    )
    probe = pbits.join(
        F.broadcast(bloom),
        F.expr("pos div 32") == F.col("word_idx"),
        "left",
    ).select(
        "key",
        F.when(
            F.col("word").isNotNull()
            & (F.expr("(shiftright(word, pos % 32) & 1)") == 1),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    per_key = probe.groupBy("key").agg(
        F.when(F.sum("hit") == 4, 1).otherwise(0).alias("bloom_pos")
    )
    flagged = per_key.join(
        members.withColumn("m", F.lit(1)), "key", "left"
    ).select(
        "bloom_pos",
        F.when(F.col("m").isNotNull(), 1).otherwise(0).alias("is_member"),
    )
    fp = F.sum(((F.col("bloom_pos") == 1) & (F.col("is_member") == 0)).cast("int"))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("is_member").cast("bigint").alias("n_members"),
        F.sum("bloom_pos").cast("bigint").alias("n_bloom_positive"),
        fp.cast("bigint").alias("n_false_positive"),
        (
            fp.cast("double") / (F.count(F.lit(1)) - F.sum("is_member"))
        ).alias("fp_rate"),
    )


_JC_K = 256  # KMV size for the join-cardinality estimator


@register(
    "sketch_join_cardinality",
    ops=("A2", "A9", "J1"),
    doc="Join-cardinality estimation from KMV sketches — the "
    "cost-based-optimizer primitive: per-side k-minimum-value "
    "sketches of the join key (orders.o_custkey vs BUILDING-segment "
    "customers), intersection estimated from the union sketch's "
    "overlap ratio, |A JOIN B| predicted as est_keys x mean per-key "
    "frequency of each side. The exact join count and exact key "
    "intersection are carried alongside so the estimator's error is "
    "part of the oracle-checked contract (at 100 TB only the "
    "sketches run: fixed k-hash state per side, mergeable "
    "map-side).",
    oracle=f"""
WITH ua AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
    AS BIGINT) / {_DENOM!r} AS u
  FROM orders
),
ka AS (SELECT u FROM ua ORDER BY u LIMIT {_JC_K}),
ub AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
    AS BIGINT) / {_DENOM!r} AS u
  FROM customer WHERE c_mktsegment = 'BUILDING'
),
kb AS (SELECT u FROM ub ORDER BY u LIMIT {_JC_K}),
un AS (
  SELECT u FROM (SELECT u FROM ka UNION SELECT u FROM kb) ORDER BY u LIMIT {_JC_K}
),
ustats AS (
  SELECT MAX(u) AS u_k, COUNT(*) AS n_kept,
    CAST(SUM(CASE WHEN u IN (SELECT u FROM ka)
               AND u IN (SELECT u FROM kb) THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM un
),
ra AS (SELECT COUNT(*) AS n_a, COUNT(DISTINCT o_custkey) AS d_a FROM orders),
rb AS (SELECT COUNT(*) AS n_b, COUNT(DISTINCT c_custkey) AS d_b
       FROM customer WHERE c_mktsegment = 'BUILDING'),
ex AS (
  SELECT COUNT(*) AS exact_join_rows
  FROM orders o JOIN customer c
    ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
),
exi AS (
  SELECT COUNT(*) AS exact_key_inter FROM
    (SELECT DISTINCT o_custkey AS k FROM orders) a
  JOIN (SELECT DISTINCT c_custkey AS k FROM customer
        WHERE c_mktsegment = 'BUILDING') b ON a.k = b.k
)
SELECT CAST(ex.exact_join_rows AS BIGINT) AS exact_join_rows,
  CAST(exi.exact_key_inter AS BIGINT) AS exact_key_inter,
  CASE WHEN us.n_kept < {_JC_K} THEN CAST(us.n_both AS DOUBLE)
       ELSE (CAST(us.n_both AS DOUBLE) / {_JC_K}) * ({_JC_K - 1} / us.u_k)
  END AS est_key_inter,
  (CASE WHEN us.n_kept < {_JC_K} THEN CAST(us.n_both AS DOUBLE)
        ELSE (CAST(us.n_both AS DOUBLE) / {_JC_K}) * ({_JC_K - 1} / us.u_k)
   END)
    * (CAST(ra.n_a AS DOUBLE) / ra.d_a)
    * (CAST(rb.n_b AS DOUBLE) / rb.d_b) AS est_join_rows
FROM ustats us, ra, rb, ex, exi
""",
)
def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cb = c.filter(F.col("c_mktsegment") == "BUILDING")

    def kmv(frame, key):
        u = (
            F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10)
            .cast("bigint")
            .cast("double")
            / F.lit(_DENOM)
        )
        return frame.select(u.alias("u")).distinct().orderBy("u").limit(_JC_K)


    # Pinned (r10): each KMV sketch (fact-scale md5 + distinct +
    # global top-K) feeds the union AND its membership flag join — 2
    # consumers each, so both sketch builds executed twice before.
    ka = _pin(kmv(o, "o_custkey"))
    kb = _pin(kmv(cb, "c_custkey"))
    un = ka.union(kb).distinct().orderBy("u").limit(_JC_K)
    flagged = un.join(
        ka.withColumnRenamed("u", "ua"), F.col("u") == F.col("ua"), "left"
    ).join(kb.withColumnRenamed("u", "ub"), F.col("u") == F.col("ub"), "left")
    ustats = flagged.agg(
        F.max("u").alias("u_k"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(
            (F.col("ua").isNotNull() & F.col("ub").isNotNull()).cast("int")
        )
        .cast("bigint")
        .alias("n_both"),
    )
    ra = o.agg(
        F.count(F.lit(1)).alias("n_a"), F.countDistinct("o_custkey").alias("d_a")
    )
    rb = cb.agg(
        F.count(F.lit(1)).alias("n_b"), F.countDistinct("c_custkey").alias("d_b")
    )
    ex = (
        o.join(cb, o["o_custkey"] == cb["c_custkey"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_join_rows"))
    )
    exi = (
        o.select(F.col("o_custkey").alias("k"))
        .distinct()
        .join(cb.select(F.col("c_custkey").alias("k")).distinct(), "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_key_inter"))
    )
    est_inter = F.when(
        F.col("n_kept") < _JC_K, F.col("n_both").cast("double")
    ).otherwise(
        (F.col("n_both").cast("double") / _JC_K) * ((_JC_K - 1) / F.col("u_k"))
    )
    return (
        ex.crossJoin(exi)
        .crossJoin(ustats)
        .crossJoin(ra)
        .crossJoin(rb)
        .select(
            "exact_join_rows",
            "exact_key_inter",
            est_inter.alias("est_key_inter"),
            (
                est_inter
                * (F.col("n_a").cast("double") / F.col("d_a"))
                * (F.col("n_b").cast("double") / F.col("d_b"))
            ).alias("est_join_rows"),
        )
    )


@register(
    "sketch_kmv_union",
    ops=("A2", "A9", "U1"),
    doc="Mergeability — the property that makes sketches work on a "
    "cluster: per-event-type KMV sketches of the user population are "
    "built independently (as map-side partials would be), then MERGED "
    "by keeping the k smallest of the union — and the merged estimate "
    "is compared against (a) the exact corpus-wide distinct and (b) "
    "the naive sum of per-type estimates, which overcounts exactly "
    "the cross-type overlap. One row out; the union never reships "
    "raw values, only k-bounded sketch state — the 100 TB merge "
    "pattern.",
    oracle=f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
      / {_DENOM!r} AS u
  FROM events
),
per_type AS (
  SELECT event_type, u,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM hashed
),
kept AS (SELECT event_type, u FROM per_type WHERE rn <= {_K}),
part_est AS (
  SELECT event_type,
    CASE WHEN COUNT(*) < {_K} THEN CAST(COUNT(*) AS DOUBLE)
         ELSE ({_K} - 1) / MAX(u) END AS est
  FROM kept GROUP BY 1
),
merged AS (
  SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn
  FROM (SELECT DISTINCT u FROM kept)
),
merged_kth AS (
  SELECT MAX(u) AS u_k, COUNT(*) AS n_kept FROM merged WHERE rn <= {_K}
),
exact AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events)
SELECT
  (SELECT COUNT(*) FROM part_est) AS n_sketches,
  e.exact_distinct,
  CASE WHEN m.n_kept < {_K} THEN CAST(m.n_kept AS DOUBLE)
       ELSE ({_K} - 1) / m.u_k END AS merged_estimate,
  (SELECT CAST(SUM(CAST(est AS DECIMAL(18,4))) AS DOUBLE) FROM part_est)
    AS sum_of_parts
FROM exact e, merged_kth m
""",
)
def sketch_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    u = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(_DENOM)
    )
    hashed = e.select("event_type", u.alias("u")).distinct()
    kept = hashed.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy("u"))
    ).filter(F.col("rn") <= _K)
    part_est = kept.groupBy("event_type").agg(
        F.when(F.count(F.lit(1)) < _K, F.count(F.lit(1)).cast("double"))
        .otherwise(F.lit(_K - 1) / F.max("u"))
        .alias("est")
    )
    merged = (
        kept.select("u")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("u")))
        .filter(F.col("rn") <= _K)
        .agg(F.max("u").alias("u_k"), F.count(F.lit(1)).alias("n_kept"))
    )
    exact = e.agg(F.countDistinct("user_id").alias("exact_distinct"))
    parts = part_est.agg(
        F.count(F.lit(1)).alias("n_sketches"),
        F.sum(F.col("est").cast("decimal(18,4)")).cast("double").alias("sum_of_parts"),
    )
    return (
        parts.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(merged))
        .select(
            "n_sketches",
            "exact_distinct",
            F.when(F.col("n_kept") < _K, F.col("n_kept").cast("double"))
            .otherwise(F.lit(_K - 1) / F.col("u_k"))
            .alias("merged_estimate"),
            "sum_of_parts",
        )
    )


@register(
    "moments_partial_merge",
    ops=("A3", "A4", "A11", "U1"),
    doc="Mergeable moment statistics (the Welford/Chan parallel-merge "
    "identity in its exact form): each source contributes a partial "
    "(n, Σx, Σx²) triple computed in exact DECIMAL, the triples "
    "merge by plain addition — the property that makes map-side "
    "partials and executor-tree aggregation CORRECT, not just fast "
    "— and the merged moments reproduce the direct global mean and "
    "sample stddev bitwise (both carried side-by-side for the "
    "gate). This is the operator-level proof that the engine's "
    "deterministic aggregates commute with partitioning: the merge "
    "path sees per-source frames, the direct path one global agg, "
    "and the driver hash-compares them.",
    oracle=f"""
WITH partials AS (
  SELECT source,
         COUNT(*) AS n,
         SUM(CAST(n_chars AS DECIMAL(18,4))) AS s1,
         SUM(CAST(n_chars AS DECIMAL(19,4)) * CAST(n_chars AS DECIMAL(18,4)))
           AS s2
  FROM documents GROUP BY source
),
merged AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_all,
         SUM(s1) AS s1dec,
         CAST(SUM(s1) AS DOUBLE) AS s1d,
         CAST(CAST(SUM(s2) AS VARCHAR) AS DOUBLE) AS s2d
  FROM partials
)
SELECT (SELECT COUNT(*) FROM partials) AS n_partials,
       n_all,
       {N.sql_drdiv("s1dec", "n_all")} AS merged_mean,
       ROUND(SQRT(GREATEST(
         (s2d - (s1d * s1d) / n_all) / (n_all - 1.0), 0.0)), 4)
         AS merged_stddev
FROM merged
""",
)
def moments_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    partials = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").cast("decimal(18,4)")).alias("s1"),
        F.sum(
            F.col("n_chars").cast("decimal(19,4)")
            * F.col("n_chars").cast("decimal(18,4)")
        ).alias("s2"),
    )
    merged = partials.agg(
        F.count(F.lit(1)).alias("n_partials"),
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s1").alias("s1dec"),
        F.sum("s1").cast("double").alias("s1d"),
        F.sum("s2").cast("string").cast("double").alias("s2d"),
    )
    var = (
        F.col("s2d") - (F.col("s1d") * F.col("s1d")) / F.col("n_all")
    ) / (F.col("n_all") - F.lit(1.0))
    return merged.select(
        "n_partials",
        "n_all",
        N.drdiv(F.col("s1dec"), F.col("n_all")).alias("merged_mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 4).alias("merged_stddev"),
    )


#: Sources compared by the KMV intersection estimator. The pair grid is
#: |S|·(|S|−1)/2 — five sources → 10 pairs keeps the demo output small;
#: the plan shape is identical for any source count.
_KI_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_KI_SRC_SQL = ", ".join(f"'{s}'" for s in _KI_SOURCES)


@register(
    "sketch_kmv_intersection",
    ops=("A2", "A9", "J10"),
    doc="KMV set-intersection estimate between source vocabularies "
    "(the overlap planner a data-mixing pipeline runs before "
    "dedup): each source's distinct-token set is sketched with the "
    "k=64 smallest keyed md5 hashes (same recipe as "
    "sketch_kmv_distinct), the pair's union estimate comes from the "
    "k smallest of the merged sketch, and the intersection is "
    "inclusion–exclusion est_a + est_b − est_union, with the "
    "derived Jaccard beside the EXACT intersection and Jaccard so "
    "the sketch error is visible. Everything after the per-source "
    "distinct is k-bounded sketch state — pairs never reship raw "
    "vocabularies, the 100 TB overlap-matrix pattern (the exact "
    "columns are the oracle's audit and stay linear: one "
    "token-keyed equi-join). Deterministic hashing keeps the sketch "
    "itself oracle-checkable.",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT source, t
  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
        FROM documents WHERE source IN ({_KI_SRC_SQL}))
),
hashed AS (
  SELECT DISTINCT source,
    CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) / {_DENOM!r} AS u
  FROM tok
),
kept AS (
  SELECT source, u FROM (
    SELECT source, u,
      ROW_NUMBER() OVER (PARTITION BY source ORDER BY u) AS rn
    FROM hashed
  ) WHERE rn <= {_K}
),
est_src AS (
  SELECT source, COUNT(*) AS n_kept, MAX(u) AS u_k,
    CASE WHEN COUNT(*) < {_K} THEN CAST(COUNT(*) AS DOUBLE)
         ELSE ({_K} - 1) / MAX(u) END AS est
  FROM kept GROUP BY source
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM est_src a JOIN est_src b ON a.source < b.source
),
union_kept AS (
  SELECT src_a, src_b, u FROM (
    SELECT p.src_a, p.src_b, k.u,
      ROW_NUMBER() OVER (PARTITION BY p.src_a, p.src_b ORDER BY k.u) AS rn
    FROM pairs p
    JOIN (SELECT DISTINCT src_a, src_b, u
          FROM pairs p2 JOIN kept k2 ON k2.source IN (p2.src_a, p2.src_b)) k
      ON k.src_a = p.src_a AND k.src_b = p.src_b
  ) WHERE rn <= {_K}
),
est_union AS (
  SELECT src_a, src_b,
    CASE WHEN COUNT(*) < {_K} THEN CAST(COUNT(*) AS DOUBLE)
         ELSE ({_K} - 1) / MAX(u) END AS est_u
  FROM union_kept GROUP BY 1, 2
),
exact_src AS (SELECT source, COUNT(*) AS n_exact FROM tok GROUP BY source),
exact_inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
  FROM tok a JOIN tok b ON a.t = b.t AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b,
  CAST(xa.n_exact AS BIGINT) AS exact_a,
  CAST(xb.n_exact AS BIGINT) AS exact_b,
  CAST(COALESCE(xi.n_inter, 0) AS BIGINT) AS exact_inter,
  CAST(COALESCE(xi.n_inter, 0) AS DOUBLE)
    / (xa.n_exact + xb.n_exact - COALESCE(xi.n_inter, 0)) AS exact_jaccard,
  ea.est AS est_a, eb.est AS est_b, eu.est_u AS est_union,
  (ea.est + eb.est) - eu.est_u AS est_inter,
  ((ea.est + eb.est) - eu.est_u) / eu.est_u AS est_jaccard
FROM pairs p
JOIN est_src ea ON p.src_a = ea.source
JOIN est_src eb ON p.src_b = eb.source
JOIN est_union eu ON p.src_a = eu.src_a AND p.src_b = eu.src_b
JOIN exact_src xa ON p.src_a = xa.source
JOIN exact_src xb ON p.src_b = xb.source
LEFT JOIN exact_inter xi ON p.src_a = xi.src_a AND p.src_b = xi.src_b
""",
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True).filter(
        F.col("source").isin(*_KI_SOURCES)
    )
    # The distinct token set feeds four consumers (sketch build, exact
    # per-source counts, both sides of the exact-intersection join);
    # pin the vocab-bounded frame so the explode+distinct shuffle runs
    # once. Size is Σ per-source vocab — sub-linear in corpus rows.
    # localCheckpoint, not persist: this lazy frame is returned inside
    # the query result, and a leaked persist would let a later same-
    # session invocation reuse it via the CacheManager's canonical-
    # plan lookup — cross-run result caching (r10).

    tok = _pin(
        d.select(
            "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
        ).distinct()
    )
    u = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(_DENOM)
    )
    hashed = tok.select("source", u.alias("u")).distinct()
    kept = hashed.withColumn(
        "rn", F.row_number().over(Window.partitionBy("source").orderBy("u"))
    ).filter(F.col("rn") <= _K)
    est = F.when(F.col("n_kept") < _K, F.col("n_kept").cast("double")).otherwise(
        (_K - 1) / F.col("u_k")
    )
    est_src = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("u").alias("u_k")
    ).select("source", est.alias("est"))
    pairs = (
        est_src.select(F.col("source").alias("src_a"))
        .join(
            F.broadcast(est_src.select(F.col("source").alias("src_b"))),
            F.col("src_a") < F.col("src_b"),
        )
    )
    union_kept = (
        F.broadcast(pairs)
        .join(
            kept,
            kept["source"].isin(F.col("src_a"), F.col("src_b")),
        )
        .select("src_a", "src_b", "u")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src_a", "src_b").orderBy("u")
            ),
        )
        .filter(F.col("rn") <= _K)
    )
    est_u = F.when(F.col("nk") < _K, F.col("nk").cast("double")).otherwise(
        (_K - 1) / F.col("uk")
    )
    est_union = union_kept.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("nk"), F.max("u").alias("uk")
    ).select("src_a", "src_b", est_u.alias("est_u"))
    exact_src = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    ta = tok.select(F.col("source").alias("src_a"), "t")
    tb = tok.select(F.col("source").alias("src_b"), "t")
    exact_inter = (
        ta.join(tb, "t")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ea = est_src.select(F.col("source").alias("src_a"), F.col("est").alias("est_a"))
    eb = est_src.select(F.col("source").alias("src_b"), F.col("est").alias("est_b"))
    xa = exact_src.select(F.col("source").alias("src_a"), F.col("n_exact").alias("na"))
    xb = exact_src.select(F.col("source").alias("src_b"), F.col("n_exact").alias("nb"))
    out = (
        pairs.join(F.broadcast(ea), "src_a")
        .join(F.broadcast(eb), "src_b")
        .join(F.broadcast(est_union), ["src_a", "src_b"])
        .join(F.broadcast(xa), "src_a")
        .join(F.broadcast(xb), "src_b")
        .join(F.broadcast(exact_inter), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.col("na").cast("bigint").alias("exact_a"),
            F.col("nb").cast("bigint").alias("exact_b"),
            F.coalesce("n_inter", F.lit(0)).cast("bigint").alias("exact_inter"),
            (
                F.coalesce("n_inter", F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce("n_inter", F.lit(0)))
            ).alias("exact_jaccard"),
            "est_a",
            "est_b",
            F.col("est_u").alias("est_union"),
            ((F.col("est_a") + F.col("est_b")) - F.col("est_u")).alias("est_inter"),
            (
                ((F.col("est_a") + F.col("est_b")) - F.col("est_u"))
                / F.col("est_u")
            ).alias("est_jaccard"),
        )
    )
    return out


#: Two-level top-k geometry: shards, per-shard candidates, final k.
TOPK_SHARDS = 8
TOPK_LOCAL_M = 20
TOPK_K = 10

#: Shared SQL spelling of the tokenizer (kept in sync with
#: textops.SQL_TOKENS — re-derived here to avoid a circular import).
_TOPK_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"


@register(
    "topk_two_level_merge",
    ops=("A1", "W4", "O1", "J9"),
    doc="Distributed top-k with an EXACTNESS CERTIFICATE (threshold-"
    "algorithm bound, cf. Fagin et al.): token counts are first "
    "aggregated per doc-hash shard (a partial aggregate — no global "
    "all-terms shuffle), each shard contributes its local top-20 "
    "and its 20th-place count τ_s; any term unreported everywhere "
    "can have global count at most Σ τ_s, so after exactly "
    "re-scoring ONLY the ≤160 candidates, the result is provably "
    "the true global top-10 whenever the k-th candidate count ≥ "
    "Σ τ_s — the flag is emitted, not assumed. This is the 100 TB "
    "shape for heavy hitters: per-shard state is fixed (m rows), "
    "the merge touches S·m rows, and the rescore is a broadcast "
    "semi-join, never a full-vocabulary global sort.",
    oracle=f"""
WITH tok AS (
  SELECT doc_id % {TOPK_SHARDS} AS shard, unnest({_TOPK_TOKENS}) AS term
  FROM documents
),
local AS (
  SELECT shard, term, COUNT(*) AS n FROM tok GROUP BY 1, 2
),
ranked AS (
  SELECT shard, term, n,
    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n DESC, term) AS r
  FROM local
),
kept AS (SELECT * FROM ranked WHERE r <= {TOPK_LOCAL_M}),
tau AS (SELECT SUM(mn) AS bound FROM
        (SELECT shard, MIN(n) AS mn FROM kept GROUP BY 1)),
cand AS (SELECT DISTINCT term FROM kept),
exact AS (
  SELECT l.term, SUM(l.n) AS global_count
  FROM local l JOIN cand c ON l.term = c.term
  GROUP BY 1
),
top AS (
  SELECT term, global_count,
    ROW_NUMBER() OVER (ORDER BY global_count DESC, term) AS rank
  FROM exact
)
SELECT t.rank, t.term,
  CAST(t.global_count AS BIGINT) AS global_count,
  CAST(u.bound AS BIGINT) AS unseen_bound,
  t.global_count >= u.bound AS row_provably_top,
  MIN(t.global_count) OVER () >= u.bound AS topk_provably_exact
FROM top t, tau u
WHERE t.rank <= {TOPK_K}
""",
)
def topk_two_level_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    tok = d.select(
        (F.col("doc_id") % TOPK_SHARDS).alias("shard"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term"),
    )
    local = tok.groupBy("shard", "term").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.partitionBy("shard").orderBy(F.col("n").desc(), "term")
    kept = local.withColumn("r", F.row_number().over(wr)).filter(
        F.col("r") <= TOPK_LOCAL_M
    )
    tau = (
        kept.groupBy("shard")
        .agg(F.min("n").alias("mn"))
        .agg(F.sum("mn").alias("bound"))
    )
    cand = kept.select("term").distinct()
    exact = (
        local.join(F.broadcast(cand), "term", "left_semi")
        .groupBy("term")
        .agg(F.sum("n").alias("global_count"))
    )
    top = exact.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("global_count").desc(), "term")
        ),
    ).filter(F.col("rank") <= TOPK_K)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return top.crossJoin(F.broadcast(tau)).select(
        "rank",
        "term",
        F.col("global_count").cast("bigint").alias("global_count"),
        F.col("bound").cast("bigint").alias("unseen_bound"),
        (F.col("global_count") >= F.col("bound")).alias("row_provably_top"),
        (F.min("global_count").over(wall) >= F.col("bound")).alias(
            "topk_provably_exact"
        ),
    )


#: DDSketch-style relative-error quantile sketch (Masson, Lee & Rim,
#: VLDB 2019 — public): geometric buckets i = ceil(log_γ x) with
#: γ = (1+α)/(1−α) guarantee |est/true − 1| ≤ α per bucket. Both
#: constants are embedded as the SAME Python-computed double literal
#: in the Spark plan and the DuckDB twin, so the only per-engine libm
#: call is ln(x) — and the index rounds the log ratio to 6 dp before
#: ceil, collapsing sub-ulp libm disagreement.
_DD_ALPHA = 0.02
_DD_GAMMA = 1.02 / 0.98
_DD_LN_GAMMA = 0.040005334613699206
_DD_QS = "[0.5, 0.95, 0.99]"


@register(
    "sketch_ddsketch_quantiles",
    ops=("A8", "A1", "W11", "A11"),
    doc="DDSketch relative-error quantile sketch per order status: "
    "log-γ geometric buckets (α = 2% relative accuracy), counts per "
    "bucket — fixed mergeable state like the equi-width histogram "
    "sketch above, but with RELATIVE error bounds, so p99 of a "
    "heavy-tailed column stays accurate where equi-width bins "
    "collapse. Quantile pick = first bucket whose cumulative count "
    "reaches q·n; estimate = bucket midpoint 2γ^i/(γ+1), rounded to "
    "cents so a final-ulp pow() disagreement cannot leak into the "
    "hash gate. Emitted beside the exact percentile with the "
    "relative error, keeping the approximate structure inside the "
    "bitwise oracle gate (engine-portable, unlike t-digest). At "
    "100 TB: two aggregates (bucket counts merge by addition), no "
    "global sort — the exact-percentile twin column is the part "
    "that would be dropped.",
    oracle=f"""
WITH binned AS (
  SELECT o_orderstatus AS status,
    CAST(CEIL(ROUND(LN(o_totalprice) / {_DD_LN_GAMMA!r}, 6)) AS INT) AS bkt
  FROM orders
),
hist AS (SELECT status, bkt, COUNT(*) AS c FROM binned GROUP BY 1, 2),
tot AS (SELECT status, SUM(c) AS n FROM hist GROUP BY 1),
cum AS (
  SELECT status, bkt, c, SUM(c) OVER (PARTITION BY status ORDER BY bkt) AS cum
  FROM hist
),
qs AS (SELECT unnest({_DD_QS}) AS q),
pick AS (
  SELECT c.status, q.q, MIN(c.bkt) AS bkt
  FROM qs q, cum c JOIN tot t ON c.status = t.status
  WHERE c.cum >= q.q * t.n
  GROUP BY 1, 2
),
ex AS (
  SELECT o_orderstatus AS status, unnest({_DD_QS}) AS q,
    unnest(quantile_cont(o_totalprice, {_DD_QS})) AS exact_value
  FROM orders GROUP BY 1
)
SELECT p.status, p.q, CAST(t.n AS BIGINT) AS n,
  p.bkt AS bucket,
  ROUND(2.0 * POWER({_DD_GAMMA!r}, p.bkt) / ({_DD_GAMMA!r} + 1.0), 2)
    AS est,
  ex.exact_value,
  ROUND(ABS(ROUND(2.0 * POWER({_DD_GAMMA!r}, p.bkt) / ({_DD_GAMMA!r} + 1.0), 2)
            - ex.exact_value) / ex.exact_value, 4) AS rel_err,
  ROUND(ABS(ROUND(2.0 * POWER({_DD_GAMMA!r}, p.bkt) / ({_DD_GAMMA!r} + 1.0), 2)
            - ex.exact_value) / ex.exact_value, 4) <= {_DD_ALPHA!r}
    AS within_alpha
FROM pick p
JOIN tot t ON p.status = t.status
JOIN ex ON p.status = ex.status AND p.q = ex.q
""",
)
def sketch_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    binned = o.select(
        F.col("o_orderstatus").alias("status"),
        F.ceil(F.round(F.log(x) / F.lit(_DD_LN_GAMMA), 6))
        .cast("int")
        .alias("bkt"),
    )
    hist = binned.groupBy("status", "bkt").agg(F.count(F.lit(1)).alias("c"))
    tot = hist.groupBy("status").agg(F.sum("c").alias("n"))
    cum = hist.select(
        "status",
        "bkt",
        "c",
        F.sum("c")
        .over(Window.partitionBy("status").orderBy("bkt"))
        .alias("cum"),
    )
    qs = spark.range(1).select(
        F.explode(F.expr("array(0.5D, 0.95D, 0.99D)")).alias("q")
    )
    pick = (
        cum.join(tot, "status")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("status", "q")
        .agg(F.min("bkt").alias("bkt"))
    )
    ex = (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.expr(
                f"percentile(o_totalprice, array{tuple(eval(_DD_QS))})"
            ).alias("pcts")
        )
        .select(
            "status",
            F.explode(
                F.arrays_zip(
                    F.expr("array(0.5D, 0.95D, 0.99D)").alias("q"),
                    F.col("pcts").alias("exact_value"),
                )
            ).alias("z"),
        )
        .select(
            "status",
            F.col("z.q").alias("q"),
            F.col("z.exact_value").alias("exact_value"),
        )
    )
    est = F.round(
        F.lit(2.0) * F.pow(F.lit(_DD_GAMMA), F.col("bkt")) / F.lit(_DD_GAMMA + 1.0),
        2,
    )
    rel = F.round(F.abs(est - F.col("exact_value")) / F.col("exact_value"), 4)
    return (
        pick.join(tot, "status")
        .join(ex, ["status", "q"])
        .select(
            "status",
            "q",
            F.col("n").cast("bigint").alias("n"),
            F.col("bkt").cast("int").alias("bucket"),
            est.alias("est"),
            "exact_value",
            rel.alias("rel_err"),
            (rel <= F.lit(_DD_ALPHA)).alias("within_alpha"),
        )
    )


#: Rolling-window KMV: k smallest hashes kept PER DAY, merged across
#: each trailing 7-day window (a KMV union is just "k smallest of the
#: union of the k-sets" — the mergeability that makes sketch reuse
#: across overlapping windows O(days·k) instead of re-scanning events
#: per window).
_RKMV_K = 32
_RKMV_DAYS = 7


@register(
    "sketch_kmv_rolling_distinct",
    ops=("A2", "W9", "F7", "W4"),
    doc="Trailing-7-day distinct-user ESTIMATE from merged daily KMV "
    "sketches, beside the exact rolling distinct "
    "(rolling_distinct_users' interval join is the exact twin): "
    "each day keeps its k=32 smallest keyed md5 hashes (fixed "
    "state), each window unions ≤7 such k-sets and re-takes the k "
    "smallest — the mergeable-sketch pattern that turns an "
    "O(events×windows) rolling COUNT(DISTINCT) into O(days·k) "
    "sketch traffic at 100 TB. Hash dedup before ranking keeps the "
    "union a set; the estimator and its exact-fallback branch "
    "match sketch_kmv_distinct. Deterministic keyed hashing keeps "
    "the whole structure inside the bitwise oracle gate.",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS d,
    user_id
  FROM events
),
hashed AS (
  SELECT DISTINCT d,
    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
      / {_DENOM!r} AS u
  FROM ud
),
daily AS (
  SELECT d, u FROM (
    SELECT d, u, ROW_NUMBER() OVER (PARTITION BY d ORDER BY u) AS rn
    FROM hashed
  ) WHERE rn <= {_RKMV_K}
),
days AS (SELECT DISTINCT d FROM ud),
win AS (
  SELECT DISTINCT days.d AS day, daily.u
  FROM daily JOIN days ON days.d BETWEEN daily.d AND daily.d + {_RKMV_DAYS - 1}
),
kth AS (
  SELECT day, MAX(u) AS u_k, COUNT(*) AS n_kept
  FROM (
    SELECT day, u, ROW_NUMBER() OVER (PARTITION BY day ORDER BY u) AS rn
    FROM win
  ) WHERE rn <= {_RKMV_K}
  GROUP BY 1
),
exact AS (
  SELECT days.d AS day, COUNT(DISTINCT ud.user_id) AS exact_users_7d
  FROM ud JOIN days ON days.d BETWEEN ud.d AND ud.d + {_RKMV_DAYS - 1}
  GROUP BY 1
)
SELECT strftime(e.day, '%Y-%m-%d') AS day,
  CAST(e.exact_users_7d AS BIGINT) AS exact_users_7d,
  CASE WHEN k.n_kept < {_RKMV_K} THEN CAST(k.n_kept AS DOUBLE)
       ELSE ({_RKMV_K} - 1) / k.u_k END AS kmv_estimate
FROM exact e JOIN kth k ON e.day = k.day
""",
)
def sketch_kmv_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    ud = e.select(F.to_date("event_time").alias("d"), "user_id").distinct()
    u = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("bigint")
        .cast("double")
        / F.lit(_DENOM)
    )
    hashed = ud.select("d", u.alias("u")).distinct()
    daily = (
        hashed.withColumn(
            "rn", F.row_number().over(Window.partitionBy("d").orderBy("u"))
        )
        .filter(F.col("rn") <= _RKMV_K)
        .select("d", "u")
    )
    days = ud.select(F.col("d").alias("day")).distinct()
    win = (
        daily.withColumn(
            "day",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), _RKMV_DAYS - 1))
            ),
        )
        .join(days, "day", "left_semi")
        .select("day", "u")
        .distinct()
    )
    kth = (
        win.withColumn(
            "rn", F.row_number().over(Window.partitionBy("day").orderBy("u"))
        )
        .filter(F.col("rn") <= _RKMV_K)
        .groupBy("day")
        .agg(F.max("u").alias("u_k"), F.count(F.lit(1)).alias("n_kept"))
    )
    exact = (
        ud.withColumn(
            "day",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), _RKMV_DAYS - 1))
            ),
        )
        .join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    est = F.when(
        F.col("n_kept") < _RKMV_K, F.col("n_kept").cast("double")
    ).otherwise((_RKMV_K - 1) / F.col("u_k"))
    return exact.join(kth, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("exact_users_7d").cast("bigint").alias("exact_users_7d"),
        est.alias("kmv_estimate"),
    )


@register(
    "sketch_native_hll_datasketches",
    ops=("A2", "A1", "A12"),
    doc="Native Apache DataSketches HLL (Spark 3.5+ hll_sketch_agg / "
    "hll_union_agg): per-priority customer cardinality estimated by "
    "the engine-resident sketch, PLUS a union-merge across all "
    "priorities — the mergeable binary sketch state a 100 TB "
    "rollup ships between layers (our md5-register HLL twin is the "
    "cross-engine-checkable variant; THIS one is the production "
    "codepath). DuckDB cannot reproduce DataSketches estimates, so "
    "the gate carries the exact distinct beside a ±6% accuracy "
    "assertion folded into the compared columns — estimate drift "
    "fails the hash.",
    oracle="""
WITH per AS (
  SELECT o_orderpriority,
    COUNT(DISTINCT o_custkey) AS exact_distinct
  FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(DISTINCT o_custkey) AS n FROM orders)
SELECT p.o_orderpriority,
  CAST(p.exact_distinct AS BIGINT) AS exact_distinct,
  TRUE AS est_within_6pct,
  CAST(t.n AS BIGINT) AS exact_union_distinct,
  TRUE AS union_within_6pct
FROM per p CROSS JOIN tot t
""",
)
def sketch_native_hll_datasketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_distinct"),
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est")
    )
    tot = o.agg(F.countDistinct("o_custkey").alias("exact_union"))
    est = F.hll_sketch_estimate("sk")
    within = (
        F.abs(est.cast("double") / F.col("exact_distinct") - 1.0) <= 0.06
    )
    uwithin = (
        F.abs(
            F.col("union_est").cast("double") / F.col("exact_union") - 1.0
        )
        <= 0.06
    )
    return (
        per.crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            within.alias("est_within_6pct"),
            F.col("exact_union").cast("bigint").alias("exact_union_distinct"),
            uwithin.alias("union_within_6pct"),
        )
    )
