"""Numeric-field classifiers and k-means clustering.

Reference parity map (paths relative to /root/reference,
GT = GeoTools/process-spatialstatistics/src/main/java/org/geotools/process/
spatialstatistics):
- ``classify_quantile``       <- GT/clsssifier/QuantileClassify.java:37
                                 (equal-count classes -> ntile window)
- ``classify_equal_interval`` <- GT/clsssifier/EqualIntervalClassify.java:35
                                 (fixed-width classes from global min/max)
- ``classify_std_dev``        <- GT/clsssifier/StandardDeviationClassify.java:39
                                 (classes at mean +- k*sigma boundaries)
- ``kmeans_xy``               <- GT/pattern/KMeansClusterOperation.java:50,
                                 KMeansCluster.java:40 (Lloyd iterations on
                                 centroids; here with deterministic fixed
                                 init + fixed iteration count so both
                                 engines converge to identical assignments)

Classification is a narrow projection after one tiny global aggregate
(min/max or moments) — at 100 TB: one partial-agg pass + one map pass,
broadcast of the 1-row stats, zero extra shuffle. K-means iterations are
k-row aggregates re-broadcast each round: per iteration one scan + one
k-row shuffle, the canonical Spark Lloyd shape.

Cross-engine determinism: stats and centers are computed from the integer
millicoordinates (ix, iy) and integer weights, so every SUM is exact in any
order; distances divide exact integers by constants (IEEE-deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import planner, world
from .world import dlit


def classify_quantile(
    points: DataFrame, n_classes: int, value_col: str = "val",
    n_buckets: int = 1024,
) -> DataFrame:
    """Equal-count classes with exact NTILE semantics, computed WITHOUT the
    single-task global window an unpartitioned ntile would force.

    Distributed rank: (1) hash rows into fixed-width value buckets,
    (2) broadcast the tiny per-bucket cumulative counts, (3) rank within
    each bucket (Window.partitionBy(bucket) — parallel partitions),
    (4) global rank = bucket base + within rank, (5) the closed-form NTILE
    formula (first n%k tiles get one extra row) maps rank -> class. Ties
    break on pid, so the assignment is deterministic and identical to the
    oracle's NTILE ORDER BY (val, pid).
    """
    from pyspark.sql import Window

    nb = int(n_buckets)
    base = planner.ensure_parallelism(points).select(
        "pid", F.col(value_col).alias("_v")
    )
    rng = base.agg(
        F.min("_v").alias("lo"), F.max("_v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    lo, hi, n = rng.collect()[0]
    width = (float(hi) - float(lo)) / nb or 1.0
    bucket = F.least(
        F.floor((F.col("_v") - F.lit(float(lo))) / F.lit(width)).cast("long"),
        F.lit(nb - 1),
    )
    bdf = base.withColumn("_b", bucket)
    cum = (
        bdf.groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_base",
            F.sum("_c").over(
                Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .na.fill({"_base": 0})
        .select("_b", "_base")
    )
    wb = Window.partitionBy("_b").orderBy(F.col("_v").asc(), F.col("pid").asc())
    ranked = bdf.join(F.broadcast(cum), on="_b").withColumn(
        "_rank", F.row_number().over(wb) + F.col("_base")
    )
    k = int(n_classes)
    size, rem = divmod(int(n), k)
    cls = F.expr(
        f"CASE WHEN _rank - 1 < {(size + 1) * rem} "
        f"THEN CAST(FLOOR((_rank - 1) / {size + 1}) AS INT) + 1 "
        f"ELSE {rem} + CAST(FLOOR((_rank - 1 - {(size + 1) * rem}) / "
        f"{max(size, 1)}) AS INT) + 1 END"
    )
    return ranked.select(
        "pid", F.round("_v", 6).alias("v"), cls.alias("cls")
    )


def classify_quantile_oracle(n_classes: int) -> str:
    return world.with_layers(
        f"""
SELECT pid, ROUND(val, 6) AS v,
       NTILE({n_classes}) OVER (ORDER BY val ASC, pid ASC) AS cls
FROM points_events
""",
        "points_events",
    )


def classify_equal_interval(
    points: DataFrame, n_classes: int, value_col: str = "w"
) -> DataFrame:
    """Fixed-width classes over [min, max]; the max value lands in the top
    class (LEAST clamp), matching EqualIntervalClassify's closed top bin.
    Integer field -> exact boundaries in both engines."""
    n = int(n_classes)
    stats = points.agg(
        F.min(value_col).cast("long").alias("vmin"),
        F.max(value_col).cast("long").alias("vmax"),
    )
    df = planner.ensure_parallelism(points).crossJoin(F.broadcast(stats))
    width = (F.col("vmax") - F.col("vmin")).cast("double") / F.lit(float(n))
    cls = F.least(
        F.floor((F.col(value_col) - F.col("vmin")).cast("double") / width)
        .cast("long"),
        F.lit(n - 1),
    )
    return df.select("pid", F.col(value_col).alias("v"), cls.alias("cls"))


def classify_equal_interval_oracle(n_classes: int) -> str:
    n = int(n_classes)
    return world.with_layers(
        f"""
SELECT p.pid AS pid, p.w AS v,
       LEAST(CAST(FLOOR(CAST(p.w - s.vmin AS DOUBLE)
             / (CAST(s.vmax - s.vmin AS DOUBLE) / {dlit(float(n))}))
             AS BIGINT), {n - 1}) AS cls
FROM points_events p CROSS JOIN (
  SELECT CAST(MIN(w) AS BIGINT) AS vmin, CAST(MAX(w) AS BIGINT) AS vmax
  FROM points_events
) s
""",
        "points_events",
    )


def classify_std_dev(points: DataFrame, value_col: str = "w") -> DataFrame:
    """Five classes at mean ± {0.5, 1.5} sigma boundaries (population sigma).

    mean and sigma come from exact integer sums (n, s, s2); the class CASE
    uses the identical expression text in both engines.
    """
    stats = points.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).cast("long").alias("s"),
        F.sum(F.expr(f"{value_col} * {value_col}")).cast("long").alias("s2"),
    )
    df = planner.ensure_parallelism(points).crossJoin(F.broadcast(stats))
    df = df.withColumn(
        "mu", F.expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")
    ).withColumn(
        "sigma",
        F.expr(
            "SQRT(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - "
            "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
            "* (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
        ),
    )
    z = F.expr(f"({value_col} - mu) / sigma")
    cls = (
        F.when(z < -1.5, 0)
        .when(z < -0.5, 1)
        .when(z < 0.5, 2)
        .when(z < 1.5, 3)
        .otherwise(4)
    )
    return df.select("pid", F.col(value_col).alias("v"), cls.alias("cls"))


def classify_std_dev_oracle() -> str:
    return world.with_layers(
        """
SELECT pid, v, CASE WHEN z < -1.5 THEN 0 WHEN z < -0.5 THEN 1
                    WHEN z < 0.5 THEN 2 WHEN z < 1.5 THEN 3 ELSE 4 END AS cls
FROM (
  SELECT p.pid AS pid, p.w AS v,
         (p.w - CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
         / SQRT(CAST(s.s2 AS DOUBLE) / CAST(s.n AS DOUBLE)
                - (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
                * (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))) AS z
  FROM points_events p CROSS JOIN (
    SELECT COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS s,
           CAST(SUM(w * w) AS BIGINT) AS s2
    FROM points_events
  ) s
)
""",
        "points_events",
    )


# ---------------------------------------------------------------------------
# Deterministic k-means (Lloyd, fixed init, fixed iterations)
# ---------------------------------------------------------------------------

# Fixed initial centers in millicoordinate units (the [0,1e6)^2 plane).
KMEANS_INIT = [
    (250_000.0, 250_000.0),
    (750_000.0, 250_000.0),
    (250_000.0, 750_000.0),
    (750_000.0, 750_000.0),
]
KMEANS_ITERS = 3


def _assign_expr(centers: list[tuple[float, float]]):
    """argmin over centers of squared millicoord distance, SQL text shared
    with the oracle. Ties broken by lowest center id (strict < comparison
    in ascending id order)."""
    terms = []
    for cid, (cx, cy) in enumerate(centers):
        d2 = (
            f"(CAST(ix AS DOUBLE) - {dlit(cx)}) * "
            f"(CAST(ix AS DOUBLE) - {dlit(cx)}) + "
            f"(CAST(iy AS DOUBLE) - {dlit(cy)}) * "
            f"(CAST(iy AS DOUBLE) - {dlit(cy)})"
        )
        terms.append((cid, d2))
    best_d = terms[0][1]
    # fold: cls = argmin; build nested CASE comparing each candidate to the
    # running best (deterministic: earlier id wins ties via <)
    expr = f"CAST({terms[0][0]} AS INT)"
    for cid, d2 in terms[1:]:
        expr = f"CASE WHEN ({d2}) < ({best_d}) THEN {cid} ELSE {expr} END"
        best_d = f"LEAST({d2}, {best_d})"
    return expr


def kmeans_xy(points: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Deterministic Lloyd k-means (k=4) on integer millicoordinates.

    Each iteration: assign (narrow CASE projection) -> per-cluster exact
    integer sums (tiny shuffle of k partials) -> collect the 4 new centers
    into literals for the next assignment expression. The collected centers
    are exact rationals (integer sum / count) evaluated identically in
    DuckDB's oracle, so final assignments match row-for-row. Returns
    (cls, n, cx, cy) — cluster sizes and final centers.
    """
    pts = planner.ensure_parallelism(points).select("pid", "ix", "iy")
    centers = list(KMEANS_INIT)
    for _ in range(int(iters)):
        assigned = pts.withColumn("cls", F.expr(_assign_expr(centers)))
        rows = (
            assigned.groupBy("cls")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("ix").cast("long").alias("sx"),
                F.sum("iy").cast("long").alias("sy"),
            )
            .collect()
        )
        new_centers = list(centers)
        for r in rows:
            new_centers[r["cls"]] = (r["sx"] / r["n"], r["sy"] / r["n"])
        centers = new_centers
    assigned = pts.withColumn("cls", F.expr(_assign_expr(centers)))
    return (
        assigned.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("ix") / F.count(F.lit(1)) / 1000.0, 6).alias("cx"),
            F.round(F.sum("iy") / F.count(F.lit(1)) / 1000.0, 6).alias("cy"),
        )
        .orderBy("cls")
    )


def kmeans_oracle(iters: int = KMEANS_ITERS) -> str:
    """Linear CTE-chain transcription of the same fixed-iteration Lloyd run:
    a{t} = assignments at iteration t, c{t} = per-cluster integer sums.
    Center lookups are uncorrelated scalar subqueries on the named CTE, so
    the SQL text grows linearly in iterations and DuckDB materializes each
    stage once. Assumes no cluster goes empty (uniform synthetic world with
    quadrant init; holds at every test sf). The assignment CASE text is the
    same fold as the Spark side, so boundary decisions match bit-for-bit."""
    k = len(KMEANS_INIT)
    ctes = []
    centers_sql = [(dlit(cx), dlit(cy)) for cx, cy in KMEANS_INIT]
    src = "points_events"
    for t in range(int(iters)):
        assign = _assign_expr_sqlpairs(centers_sql)
        # MATERIALIZED: DuckDB inlines plain CTEs per reference — the 8
        # scalar center lookups per assignment would re-execute the whole
        # previous iteration (exponential work, fd exhaustion on the
        # parquet view).
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT pid, ix, iy, {assign} AS cls "
            f"FROM {src})"
        )
        ctes.append(
            f"c{t} AS MATERIALIZED (SELECT cls, COUNT(*) AS n, "
            f"CAST(SUM(ix) AS BIGINT) AS sx, CAST(SUM(iy) AS BIGINT) AS sy "
            f"FROM a{t} GROUP BY cls)"
        )
        centers_sql = [
            (
                f"(SELECT CAST(sx AS DOUBLE) / n FROM c{t} WHERE cls = {cid})",
                f"(SELECT CAST(sy AS DOUBLE) / n FROM c{t} WHERE cls = {cid})",
            )
            for cid in range(k)
        ]
        src = f"a{t}"
    final_assign = _assign_expr_sqlpairs(centers_sql)
    body = (
        "WITH " + ",\n".join(ctes) + f"""
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(ix) AS DOUBLE) / COUNT(*) / 1000.0, 6) AS cx,
       ROUND(CAST(SUM(iy) AS DOUBLE) / COUNT(*) / 1000.0, 6) AS cy
FROM (SELECT pid, ix, iy, {final_assign} AS cls FROM {src})
GROUP BY cls ORDER BY cls
"""
    )
    return world.with_layers(body, "points_events")


def _assign_expr_sqlpairs(centers: list[tuple[str, str]]) -> str:
    """Same argmin fold as _assign_expr but over SQL-text center coords."""
    terms = []
    for cid, (cx, cy) in enumerate(centers):
        d2 = (
            f"(CAST(ix AS DOUBLE) - {cx}) * (CAST(ix AS DOUBLE) - {cx}) + "
            f"(CAST(iy AS DOUBLE) - {cy}) * (CAST(iy AS DOUBLE) - {cy})"
        )
        terms.append((cid, d2))
    best_d = terms[0][1]
    expr = f"CAST({terms[0][0]} AS INT)"
    for cid, d2 in terms[1:]:
        expr = f"CASE WHEN ({d2}) < ({best_d}) THEN {cid} ELSE {expr} END"
        best_d = f"LEAST({d2}, {best_d})"
    return expr


#: Hard cap on the histogram the driver-side Jenks DP runs over. Above it
#: the (value, count) histogram is re-binned to at most this many bins
#: (bin representative = max value in bin, counts summed) BEFORE the
#: O(k*m^2) DP — the in-code bound that keeps the collect() and the DP
#: constant-size no matter how many distinct values 10^12 rows produce.
JENKS_MAX_BINS = 512


def quantize_hist(
    hist: list[tuple[int, int]], bins: int = JENKS_MAX_BINS
) -> list[tuple[int, int]]:
    """Re-bin a (value, count) histogram to at most ``bins`` equal-width
    bins using pure integer arithmetic (exactly reproducible in SQL:
    ``(v - vmin) * bins // (vmax - vmin + 1)``). Identity when it already
    fits. Bin representative is the max value in the bin, so breaks remain
    actual data values."""
    if len(hist) <= bins:
        return sorted(hist)
    vmin = min(v for v, _ in hist)
    span = max(v for v, _ in hist) - vmin + 1
    agg: dict[int, list[int]] = {}
    for v, c in hist:
        b = (v - vmin) * bins // span
        slot = agg.get(b)
        if slot is None:
            agg[b] = [v, c]
        else:
            slot[0] = max(slot[0], v)
            slot[1] += c
    return sorted((v, c) for v, c in agg.values())


def jenks_breaks(values: list[tuple[int, int]], k: int) -> list[int]:
    """Fisher-Jenks natural breaks over a (value, count) histogram.

    Classic O(k * m^2) dynamic program on the m distinct values (m is tiny
    after the distributed histogram collapse — the scalable shape: the
    cluster reduces 10^12 rows to a histogram, the driver solves the DP).
    Returns the k-1 upper break values (exclusive of the global max).

    Prefix sums are exact Python ints and every float enters through the
    same cast tree the SQL oracle uses (``CAST(int AS DOUBLE)`` then
    ``sx2 - sx*sx/w``), so the DP's split decisions are bit-reproducible
    in DuckDB (see :func:`jenks_oracle`).
    Reference: GT/clsssifier/NaturalBreaksClassify.java:39.
    """
    vals = sorted(values)
    m = len(vals)
    # prefix sums for O(1) SSE of any [i, j) range — exact integers
    pw = [0] * (m + 1)
    pwx = [0] * (m + 1)
    pwx2 = [0] * (m + 1)
    for i in range(m):
        v, c = int(vals[i][0]), int(vals[i][1])
        pw[i + 1] = pw[i] + c
        pwx[i + 1] = pwx[i] + c * v
        pwx2[i + 1] = pwx2[i] + c * v * v

    def sse(i: int, j: int) -> float:
        w = pw[j] - pw[i]
        if w <= 0:
            return 0.0
        sx = float(pwx[j] - pwx[i])
        sx2 = float(pwx2[j] - pwx2[i])
        return sx2 - sx * sx / float(w)

    INF = float("inf")
    # dp[c][j] = min SSE splitting first j values into c classes
    dp = [[INF] * (m + 1) for _ in range(k + 1)]
    cut = [[0] * (m + 1) for _ in range(k + 1)]
    dp[0][0] = 0.0
    for c in range(1, k + 1):
        for j in range(c, m + 1):
            best, bi = INF, 0
            for i in range(c - 1, j):
                v = dp[c - 1][i] + sse(i, j)
                if v < best:
                    best, bi = v, i
            dp[c][j] = best
            cut[c][j] = bi
    breaks = []
    j = m
    for c in range(k, 1, -1):
        j = cut[c][j]
        breaks.append(int(vals[j - 1][0]))
    return sorted(breaks)


def classify_jenks(
    points: DataFrame, n_classes: int = 5, value_col: str = "w"
) -> DataFrame:
    """Natural-breaks classification: distributed histogram -> bounded
    re-bin -> driver DP -> broadcast CASE classify. Output
    (cls, n, vmin, vmax) per class.

    The cluster reduces the rows to a (value, count) histogram and the
    driver collects at most JENKS_MAX_BINS + 1 rows of it; when there are
    more distinct values the cluster re-bins the histogram with
    :func:`quantize_hist`'s integer rule before the O(k*m^2) DP, so the
    collect and the driver work are bounded at any input scale. Full
    DuckDB oracle: :func:`jenks_oracle` unrolls the same DP as chained
    CTEs with bit-identical float decisions.
    """
    from . import planner

    bins = JENKS_MAX_BINS
    hist_df = points.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    rows = hist_df.limit(bins + 1).collect()
    if len(rows) > bins:
        # quantize_hist's re-bin, on the cluster: <= bins rows come back
        v = F.col("v").cast("long")
        lo, hi = hist_df.agg(F.min(v), F.max(v)).first()
        b = F.expr(f"(CAST(v AS BIGINT) - {lo}) * {bins} div {hi - lo + 1}")
        rows = (
            hist_df.groupBy(b.alias("b"))
            .agg(F.max(v).alias("v"), F.sum("c").alias("c"))
            .collect()
        )
    hist = quantize_hist([(int(r["v"]), int(r["c"])) for r in rows], bins)
    assert len(hist) <= bins, "jenks histogram bound violated"
    brks = jenks_breaks(hist, int(n_classes))
    expr = f"CAST({len(brks)} AS INT)"
    for i in range(len(brks) - 1, -1, -1):
        expr = f"CASE WHEN {value_col} <= {brks[i]} THEN {i} ELSE {expr} END"
    df = planner.ensure_parallelism(points).withColumn("cls", F.expr(expr))
    return (
        df.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).cast("long").alias("vmin"),
            F.max(value_col).cast("long").alias("vmax"),
        )
        .orderBy("cls")
    )


def jenks_oracle(
    layer: str = "points_events",
    n_classes: int = 5,
    value_col: str = "w",
    bins: int = JENKS_MAX_BINS,
) -> str:
    """DuckDB oracle for :func:`classify_jenks`: the SAME bounded re-bin +
    Fisher-Jenks DP, unrolled as chained MATERIALIZED CTEs.

    Parity argument: every quantity entering a float op is an exact int64
    (histogram counts, value sums, value-square sums — all < 2^53 at gate
    scale), and the float expression trees are written identically on both
    sides (``CAST(int AS DOUBLE)``; ``sx2 - sx*sx/w``; candidate =
    ``dp_prev + sse``), so min/argmin decisions — ties broken toward the
    smallest split index, like the Python loop's strict ``<`` — are
    bit-identical. dp_c(j) rows exist only where the Python dp[c][j] is
    finite, because the join chain requires a valid (c-1)-split prefix.
    """
    k = int(n_classes)
    sse_0j = (
        "CAST(b.pwx2 AS DOUBLE) - CAST(b.pwx AS DOUBLE) * "
        "CAST(b.pwx AS DOUBLE) / CAST(b.pw AS DOUBLE)"
    )
    sse_ij = (
        "CAST(b.pwx2 - a.pwx2 AS DOUBLE) - CAST(b.pwx - a.pwx AS DOUBLE) * "
        "CAST(b.pwx - a.pwx AS DOUBLE) / CAST(b.pw - a.pw AS DOUBLE)"
    )
    ctes = [
        f"pts AS (SELECT {value_col} AS w FROM {layer})",
        "h0 AS (SELECT w AS v, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM pts GROUP BY w)",
        "ext AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax, COUNT(*) AS m "
        "FROM h0)",
        # bounded re-bin: identity when m <= bins, else integer-exact
        # equal-width binning with representative = max value in bin
        f"""hq AS MATERIALIZED (
  SELECT MAX(h.v) AS v, CAST(SUM(h.c) AS BIGINT) AS c
  FROM h0 h CROSS JOIN ext e
  GROUP BY CASE WHEN e.m > {bins}
                THEN ((h.v - e.vmin) * {bins}) // (e.vmax - e.vmin + 1)
                ELSE h.v END)""",
        "vals AS (SELECT v, c, CAST(ROW_NUMBER() OVER (ORDER BY v) "
        "AS BIGINT) AS i FROM hq)",
        """pre AS MATERIALIZED (
  SELECT i, v,
         CAST(SUM(c)         OVER (ORDER BY i) AS BIGINT) AS pw,
         CAST(SUM(c * v)     OVER (ORDER BY i) AS BIGINT) AS pwx,
         CAST(SUM(c * v * v) OVER (ORDER BY i) AS BIGINT) AS pwx2
  FROM vals)""",
        "pre0 AS (SELECT * FROM pre UNION ALL "
        "SELECT CAST(0 AS BIGINT), NULL, CAST(0 AS BIGINT), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT))",
        "mq AS (SELECT MAX(i) AS m FROM pre)",
        # dp[1][j] = sse(0, j), cut 0 (Python adds dp[0][0]=0.0 — exact)
        f"""dp1 AS MATERIALIZED (
  SELECT b.i AS j, {sse_0j} AS val, CAST(0 AS BIGINT) AS cut
  FROM pre b)""",
    ]
    for c in range(2, k + 1):
        # only the j = m row of the final level is ever read back
        target = "JOIN mq ON b.i = mq.m" if c == k else ""
        ctes.append(f"""dp{c} AS MATERIALIZED (
  SELECT j, val, cut FROM (
    SELECT cand.*, ROW_NUMBER() OVER (
        PARTITION BY j ORDER BY val ASC, cut ASC) AS rn
    FROM (
      SELECT b.i AS j, d.val + ({sse_ij}) AS val, a.i AS cut
      FROM pre b {target}
      JOIN pre0 a ON a.i < b.i
      JOIN dp{c - 1} d ON d.j = a.i
    ) cand
  ) WHERE rn = 1)""")
    # backtrack: j_k = m, j_{c-1} = cut[c][j_c]; break value = v at row j
    ctes.append(f"bt{k} AS (SELECT cut AS j FROM dp{k})")
    for c in range(k - 1, 1, -1):
        ctes.append(
            f"bt{c} AS (SELECT d.cut AS j FROM dp{c} d "
            f"JOIN bt{c + 1} t ON d.j = t.j)"
        )
    brk_cols = ", ".join(
        f"(SELECT v FROM pre JOIN bt{c + 1} t ON pre.i = t.j) AS b{c}"
        for c in range(1, k)
    )
    ctes.append(f"breaks AS (SELECT {brk_cols})")
    case = " ".join(
        f"WHEN p.w <= br.b{c} THEN {c - 1}" for c in range(1, k)
    )
    body = (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(cls AS INT) AS cls, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(w) AS BIGINT) AS vmin, CAST(MAX(w) AS BIGINT) AS vmax
FROM (SELECT p.w, CASE {case} ELSE {k - 1} END AS cls
      FROM pts p CROSS JOIN breaks br)
GROUP BY cls ORDER BY cls
"""
    )
    from . import world

    return world.with_layers(body, layer)
