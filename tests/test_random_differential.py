"""Randomized differential testing: Spark vs DuckDB on seeded random
tables (not just the driver fixtures). Each template runs the same
relational semantics through both engines and compares canonical value
hashes — the fuzz layer over the fixed-corpus oracle harness
(tools/oracle_harness.py), sharing its canonicalization.
"""

import sys

import numpy as np
import pandas as pd
import pytest

from conftest import REPO  # noqa: E402

sys.path.insert(0, str(REPO / "tools"))
from oracle_harness import canonical_hash  # noqa: E402

import duckdb  # noqa: E402


def _tables(seed: int):
    rng = np.random.default_rng(seed)
    n = 1500
    grp = rng.choice(["a", "b", "c", "d", None], size=n, p=[0.3, 0.3, 0.2, 0.15, 0.05])
    fact = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "k": rng.zipf(1.8, size=n).clip(max=60).astype(np.int32),  # skewed key
            "grp": grp,
            "v": np.round(rng.normal(100, 30, size=n), 2),
            "s": ["s" + str(x) for x in rng.integers(0, 500, size=n)],
        }
    )
    fact.loc[rng.choice(n, size=n // 20, replace=False), "v"] = np.nan
    dim = pd.DataFrame(
        {
            "k": np.arange(1, 41, dtype=np.int32),
            "label": ["L" + str(i % 7) for i in range(1, 41)],
        }
    )
    return fact, dim


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_random_tables_differential(spark, con, seed):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    fact_pd, dim_pd = _tables(seed)
    fact = spark.createDataFrame(fact_pd)
    dim = spark.createDataFrame(dim_pd)
    con.register("fact", fact_pd)
    con.register("dim", dim_pd)

    cases = {
        "group_agg": (
            fact.groupBy("grp").agg(
                F.count("*").alias("n"),
                F.round(F.sum("v"), 2).alias("sv"),
                F.min("s").alias("mn"),
                F.max("k").alias("mx"),
                F.count("v").alias("nv"),
            ),
            """SELECT grp, count(*) AS n, round(sum(v), 2) AS sv,
                      min(s) AS mn, max(k) AS mx, count(v) AS nv
               FROM fact GROUP BY grp""",
        ),
        "join_left": (
            fact.join(dim, "k", "left").select("id", "k", "grp", "label"),
            """SELECT id, f.k AS k, grp, label
               FROM fact f LEFT JOIN dim d ON f.k = d.k""",
        ),
        "join_full_agg": (
            fact.join(dim, "k", "full")
            .groupBy("label")
            .agg(F.count("*").alias("n"), F.round(F.avg("v"), 4).alias("av")),
            """SELECT label, count(*) AS n, round(avg(v), 4) AS av
               FROM fact f FULL JOIN dim d ON f.k = d.k GROUP BY label""",
        ),
        "window_topk": (
            fact.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("grp").orderBy(
                        F.col("v").desc_nulls_last(), F.col("id").asc()
                    )
                ),
            )
            .filter(F.col("rn") <= 3)
            .select("grp", "id", "rn"),
            """SELECT grp, id, rn FROM (
                 SELECT grp, id, row_number() OVER (
                   PARTITION BY grp ORDER BY v DESC NULLS LAST, id) AS rn
                 FROM fact) WHERE rn <= 3""",
        ),
        "distinct_except": (
            fact.filter(F.col("k") <= 10)
            .select("grp", "k")
            .distinct()
            .exceptAll(fact.filter(F.col("k") <= 3).select("grp", "k").distinct()),
            """SELECT DISTINCT grp, k FROM fact WHERE k <= 10
               EXCEPT ALL
               SELECT DISTINCT grp, k FROM fact WHERE k <= 3""",
        ),
        "conditional": (
            fact.select(
                "id",
                F.coalesce(F.col("grp"), F.lit("?")).alias("g2"),
                F.when(F.col("v") > 100, "hi").otherwise("lo").alias("band"),
                F.nullif(F.col("k").cast("int"), F.lit(1)).alias("k_nz"),
            ),
            """SELECT id, coalesce(grp, '?') AS g2,
                      CASE WHEN v > 100 THEN 'hi' ELSE 'lo' END AS band,
                      nullif(k, 1) AS k_nz
               FROM fact""",
        ),
    }
    cases.update(
        {
            "global_topk": (
                fact.orderBy(
                    F.col("v").desc_nulls_last(), F.col("id").asc()
                ).limit(25).select("id", "v"),
                """SELECT id, v FROM fact
                   ORDER BY v DESC NULLS LAST, id LIMIT 25""",
            ),
            "rollup": (
                fact.rollup("grp", "k")
                .agg(F.count("*").alias("n"), F.round(F.sum("v"), 2).alias("sv"))
                .filter(F.col("k").isNull() | (F.col("k") <= 5)),
                """SELECT grp, k, count(*) AS n, round(sum(v), 2) AS sv
                   FROM fact GROUP BY ROLLUP (grp, k)
                   HAVING k IS NULL OR k <= 5""",
            ),
            "scalar_matrix": (
                fact.select(
                    "id",
                    F.upper(F.col("s")).alias("up"),
                    F.substring(F.col("s"), 2, 3).alias("sub"),
                    F.lpad(F.col("s"), 8, "_").alias("pad"),
                    F.abs(F.round(F.col("v") - 100, 2)).alias("dev"),
                    F.floor(F.col("v")).alias("fl"),
                    F.concat_ws("|", "grp", "s").alias("cat"),
                ),
                """SELECT id, upper(s) AS up, substring(s, 2, 3) AS sub,
                          lpad(s, 8, '_') AS pad,
                          abs(round(v - 100, 2)) AS dev, floor(v) AS fl,
                          concat_ws('|', grp, s) AS cat
                   FROM fact""",
            ),
            "intersect": (
                fact.filter(F.col("k") <= 12)
                .select("grp", "k")
                .intersect(fact.filter(F.col("k") >= 4).select("grp", "k")),
                """SELECT DISTINCT grp, k FROM fact WHERE k <= 12
                   INTERSECT
                   SELECT DISTINCT grp, k FROM fact WHERE k >= 4""",
            ),
        }
    )
    cases.update(
        {
            "window_lag_runsum": (
                fact.select(
                    "id",
                    F.lag("v", 1).over(
                        Window.partitionBy("grp").orderBy("id")
                    ).alias("pv"),
                    F.round(
                        F.sum("v").over(
                            Window.partitionBy("grp")
                            .orderBy("id")
                            .rowsBetween(Window.unboundedPreceding, 0)
                        ),
                        2,
                    ).alias("rs"),
                ).filter(F.col("grp").isNotNull()),
                """SELECT id, lag(v, 1) OVER w AS pv,
                          round(sum(v) OVER (PARTITION BY grp ORDER BY id
                            ROWS UNBOUNDED PRECEDING), 2) AS rs
                   FROM fact WHERE grp IS NOT NULL
                   WINDOW w AS (PARTITION BY grp ORDER BY id)""",
            ),
            "semi_anti": (
                fact.join(dim.filter(F.col("label") == "L3"), "k", "left_semi")
                .select("id", "k")
                .unionByName(
                    fact.join(dim, "k", "left_anti")
                    .select("id", "k")
                    .withColumn("k", F.col("k") * -1)
                ),
                """SELECT id, k FROM fact
                   WHERE k IN (SELECT k FROM dim WHERE label = 'L3')
                   UNION ALL
                   SELECT id, -k AS k FROM fact
                   WHERE k NOT IN (SELECT k FROM dim)""",
            ),
            "grouping_sets": (
                fact.filter(F.col("grp").isNotNull())
                .cube("grp", "k")
                .agg(F.count("*").alias("n"))
                .filter(F.col("k").isNull() | (F.col("k") <= 4)),
                """SELECT grp, k, count(*) AS n FROM fact
                   WHERE grp IS NOT NULL GROUP BY CUBE (grp, k)
                   HAVING k IS NULL OR k <= 4""",
            ),
            "string_ops": (
                fact.select(
                    "id",
                    F.regexp_extract("s", r"s(\d+)", 1).alias("num"),
                    F.translate("s", "s0", "t#").alias("tr"),
                    F.instr(F.col("s"), "1").alias("pos1"),
                ),
                r"""SELECT id, regexp_extract(s, 's(\d+)', 1) AS num,
                          translate(s, 's0', 't#') AS tr,
                          instr(s, '1') AS pos1
                   FROM fact""",
            ),
        }
    )
    for name, (sdf, sql) in cases.items():
        got = sdf.toPandas()
        want = con.execute(sql).fetchdf()
        assert len(got) == len(want), (name, len(got), len(want))
        assert canonical_hash(got) == canonical_hash(want), name


def _tables2(seed: int):
    """Second fuzz schema: timestamps, arrays, and paired numerics —
    the semantic families the first schema doesn't reach."""
    rng = np.random.default_rng(seed)
    n = 1200
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    ts_us = base_us + rng.integers(0, 30 * 86_400_000_000, size=n)
    ev = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(ts_us, unit="us"),
            "cat": rng.choice(["x", "y", "z"], size=n),
            "a": np.round(rng.uniform(0, 50, size=n), 2),
            "b": np.round(rng.uniform(0, 50, size=n), 2),
            "arr": [
                [int(x) for x in rng.integers(0, 9, size=rng.integers(0, 5))]
                for _ in range(n)
            ],
        }
    )
    spans = pd.DataFrame(
        {
            "span_id": np.arange(40, dtype=np.int64),
            "lo": np.round(np.linspace(0, 45, 40), 2),
            "hi": np.round(np.linspace(0, 45, 40) + 5.0, 2),
        }
    )
    return ev, spans


@pytest.mark.parametrize("seed", [11, 47])
def test_random_tables_differential_ts_arrays(spark, con, seed):
    from pyspark.sql import functions as F

    ev_pd, spans_pd = _tables2(seed)
    ev = spark.createDataFrame(ev_pd)
    spans = spark.createDataFrame(spans_pd)
    con.register("ev", ev_pd)
    con.register("spans", spans_pd)

    cases = {
        "time_bucket_agg": (
            ev.groupBy(
                F.date_trunc("day", "ts").alias("day"), "cat"
            ).agg(F.count("*").alias("n"), F.round(F.sum("a"), 2).alias("sa")),
            """SELECT date_trunc('day', ts) AS day, cat, count(*) AS n,
                      round(sum(a), 2) AS sa
               FROM ev GROUP BY day, cat""",
        ),
        "time_parts": (
            ev.select(
                "id",
                F.year("ts").alias("y"),
                F.dayofmonth("ts").alias("dom"),
                F.hour("ts").alias("h"),
                F.date_format("ts", "yyyy-MM-dd").alias("ds"),
            ),
            """SELECT id, year(ts) AS y, day(ts) AS dom, hour(ts) AS h,
                      strftime(ts, '%Y-%m-%d') AS ds
               FROM ev""",
        ),
        "interval_shift": (
            ev.select(
                "id",
                (F.col("ts") + F.expr("INTERVAL 90 MINUTE")).alias("later"),
                F.unix_micros(F.col("ts")).alias("us"),
            ),
            """SELECT id, ts + INTERVAL 90 MINUTE AS later,
                      epoch_us(ts) AS us
               FROM ev""",
        ),
        "array_ops": (
            # empty-list edges normalized on BOTH sides (DuckDB returns
            # NULL from array_to_string/list_sum on empties): sums cast
            # to double, empty renders as a sentinel
            ev.select(
                "id",
                F.size("arr").cast("long").alias("len"),
                F.array_contains("arr", 3).alias("has3"),
                F.coalesce(
                    F.aggregate("arr", F.lit(0).cast("long"), lambda acc, x: acc + x),
                    F.lit(0),
                ).cast("double").alias("asum"),
                F.coalesce(
                    F.nullif(F.concat_ws(",", F.array_sort("arr")), F.lit("")),
                    F.lit("(empty)"),
                ).alias("sorted"),
            ),
            """SELECT id, len(arr) AS len, list_contains(arr, 3) AS has3,
                      CAST(coalesce(list_sum(arr), 0) AS DOUBLE) AS asum,
                      coalesce(nullif(array_to_string(list_sort(arr), ','), ''),
                               '(empty)') AS sorted
               FROM ev""",
        ),
        "explode_regroup": (
            ev.select("id", "cat", F.explode("arr").alias("e"))
            .groupBy("cat", "e")
            .agg(F.count("*").alias("n")),
            """SELECT cat, e, count(*) AS n FROM (
                 SELECT cat, unnest(arr) AS e FROM ev)
               GROUP BY cat, e""",
        ),
        "stats_corr": (
            ev.groupBy("cat").agg(
                F.round(F.stddev_samp("a"), 4).alias("sd"),
                F.round(F.corr("a", "b"), 4).alias("r"),
                F.round(F.covar_samp("a", "b"), 4).alias("cv"),
            ),
            """SELECT cat, round(stddev_samp(a), 4) AS sd,
                      round(corr(a, b), 4) AS r,
                      round(covar_samp(a, b), 4) AS cv
               FROM ev GROUP BY cat""",
        ),
        "percentiles": (
            ev.groupBy("cat").agg(
                F.round(
                    F.expr("percentile(a, array(0.25, 0.5, 0.9))")[1], 4
                ).alias("p50"),
            ),
            """SELECT cat,
                      round(quantile_cont(a, 0.5), 4) AS p50
               FROM ev GROUP BY cat""",
        ),
        "range_join": (
            ev.join(
                spans,
                (F.col("a") >= F.col("lo")) & (F.col("a") < F.col("hi")),
                "inner",
            )
            .groupBy("span_id")
            .agg(F.count("*").alias("n")),
            """SELECT span_id, count(*) AS n
               FROM ev JOIN spans ON a >= lo AND a < hi
               GROUP BY span_id""",
        ),
        "exists_sub": (
            ev.filter(F.col("a") > 48).select("id", "cat").join(
                spans.filter(F.col("lo") > 40).select(F.lit(1).alias("__x")).limit(1),
                how="cross",
            ).drop("__x"),
            """SELECT id, cat FROM ev WHERE a > 48
               AND EXISTS (SELECT 1 FROM spans WHERE lo > 40)""",
        ),
        "cast_matrix": (
            ev.select(
                "id",
                F.col("a").cast("int").alias("ai"),
                F.col("a").cast("string").alias("astr"),
                F.col("id").cast("double").alias("idd"),
                F.round(F.col("b") / 7, 4).alias("bdiv"),
            ),
            """SELECT id, CAST(trunc(a) AS INT) AS ai,
                      CAST(a AS VARCHAR) AS astr,
                      CAST(id AS DOUBLE) AS idd, round(b / 7, 4) AS bdiv
               FROM ev""",
            # Spark CAST(double AS INT) truncates toward zero; DuckDB's
            # rounds half to even — trunc() on the oracle side pins the
            # Spark (SQL-standard) semantics the engine exposes
        ),
    }
    for name, (sdf, sql) in cases.items():
        got = sdf.toPandas()
        want = con.execute(sql).fetchdf()
        assert len(got) == len(want), (name, len(got), len(want))
        assert canonical_hash(got) == canonical_hash(want), name


@pytest.mark.parametrize("seed", [13, 57])
def test_random_tables_differential_subquery_shapes(spark, con, seed):
    """The decision-support shapes added with the full TPC-H suite, on
    random tables: correlated extrema via window-vs-correlated-scalar,
    folded EXISTS/NOT-EXISTS pairs, scalar-subquery thresholds with
    exact decimal arithmetic, and counts-of-counts distributions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    fact_pd, dim_pd = _tables(seed)
    fact = spark.createDataFrame(fact_pd)
    con.register("fact", fact_pd)

    cases = {}

    # correlated minimum: rows achieving their group's min v (ties kept)
    w = Window.partitionBy("grp")
    cases["correlated_min"] = (
        fact.filter(F.col("v").isNotNull() & F.col("grp").isNotNull())
        .withColumn("mv", F.min("v").over(w))
        .filter(F.col("v") == F.col("mv"))
        .select("grp", "id", "v"),
        """SELECT grp, id, v FROM fact f
           WHERE v IS NOT NULL AND grp IS NOT NULL
             AND v = (SELECT min(v) FROM fact i
                      WHERE i.grp = f.grp AND i.v IS NOT NULL)""",
    )

    # EXISTS / NOT EXISTS pair folded into one aggregation per key:
    # ids whose k-bucket has >1 distinct grp but exactly one null-v row
    per_k = fact.groupBy("k").agg(
        F.countDistinct("grp").alias("ng"),
        F.count(F.when(F.col("v").isNull(), 1)).alias("nn"),
    )
    cases["exists_pair"] = (
        fact.filter(F.col("grp").isNotNull())
        .join(per_k, "k")
        .filter((F.col("ng") > 1) & (F.col("nn") == 1))
        .select("id", "k"),
        """SELECT id, f.k AS k FROM fact f
           WHERE EXISTS (SELECT 1 FROM fact a
                         WHERE a.k = f.k AND a.grp IS DISTINCT FROM f.grp
                           AND a.grp IS NOT NULL AND f.grp IS NOT NULL)
             AND 1 = (SELECT count(*) FROM fact b
                      WHERE b.k = f.k AND b.v IS NULL)
             AND f.grp IS NOT NULL""",
    )

    # scalar-subquery threshold, decimal-exact (v*n > sum form)
    posd = fact.filter(F.col("v") > 0).select(
        "id", "k", F.col("v").cast("decimal(12,2)").alias("dv")
    )
    stats = posd.agg(F.count("*").alias("n"), F.sum("dv").alias("s"))
    cases["scalar_threshold"] = (
        posd.join(F.broadcast(stats))
        .filter(F.col("dv") * F.col("n") > F.col("s"))
        .select("id", "k"),
        """WITH p AS (SELECT id, k, CAST(v AS DECIMAL(12,2)) AS dv
                      FROM fact WHERE v > 0)
           SELECT id, k FROM p
           WHERE dv * (SELECT count(*) FROM p) > (SELECT sum(dv) FROM p)""",
    )

    # counts-of-counts with an ON-clause filter (Q13 shape)
    per_key = (
        fact.select("k").distinct()
        .join(
            fact.select(F.col("k").alias("k2"), "grp").filter(F.col("grp") != "a"),
            F.col("k") == F.col("k2"),
            "left",
        )
        .groupBy("k")
        .agg(F.count("k2").alias("cnt"))
    )
    cases["count_distribution"] = (
        per_key.groupBy("cnt").agg(F.count("*").alias("dist")),
        """SELECT cnt, count(*) AS dist FROM (
             SELECT ks.k, count(f.k) AS cnt
             FROM (SELECT DISTINCT k FROM fact) ks
             LEFT JOIN fact f ON f.k = ks.k AND f.grp <> 'a'
             GROUP BY ks.k)
           GROUP BY cnt""",
    )

    for name, (sdf, sql) in cases.items():
        got = sdf.toPandas()
        want = con.execute(sql).fetchdf()
        assert len(got) == len(want), (name, len(got), len(want))
        assert canonical_hash(got) == canonical_hash(want), name


@pytest.mark.parametrize("seed", [29])
def test_random_tables_differential_pivot_and_decimal(spark, con, seed):
    """Pivot (wide conditional aggregation) and exact decimal sums on
    random tables — the shapes the earlier fuzz batteries skip."""
    from pyspark.sql import functions as F

    fact_pd, _dim_pd = _tables(seed)
    fact = spark.createDataFrame(fact_pd)
    con.register("fact", fact_pd)

    cases = {
        "pivot_counts": (
            fact.filter(F.col("grp").isNotNull())
            .groupBy("k")
            .pivot("grp", ["a", "b", "c", "d"])
            .agg(F.count(F.lit(1)))
            .na.fill(0, ["a", "b", "c", "d"]),
            """SELECT k,
                      count(*) FILTER (WHERE grp = 'a') AS a,
                      count(*) FILTER (WHERE grp = 'b') AS b,
                      count(*) FILTER (WHERE grp = 'c') AS c,
                      count(*) FILTER (WHERE grp = 'd') AS d
               FROM fact WHERE grp IS NOT NULL GROUP BY k""",
        ),
        "decimal_exact_sums": (
            fact.withColumn("dv", F.col("v").cast("decimal(12,2)"))
            .groupBy("grp")
            .agg(
                F.sum("dv").cast("string").alias("sv"),
                F.min("dv").cast("string").alias("mn"),
                F.max("dv").cast("string").alias("mx"),
            ),
            """SELECT grp, CAST(sum(dv) AS VARCHAR) AS sv,
                      CAST(min(dv) AS VARCHAR) AS mn,
                      CAST(max(dv) AS VARCHAR) AS mx
               FROM (SELECT grp, CAST(v AS DECIMAL(12,2)) AS dv FROM fact)
               GROUP BY grp""",
        ),
    }
    for name, (sdf, sql) in cases.items():
        got = sdf.toPandas()
        want = con.execute(sql).fetchdf()
        assert len(got) == len(want), (name, len(got), len(want))
        assert canonical_hash(got) == canonical_hash(want), name


@pytest.mark.parametrize("seed", [11, 47, 83])
def test_random_tables_differential_timeseries_ops(spark, con, seed):
    """The round-4 operators (linear interpolation, EWMA, moving
    median, weighted sampling, corpus line dedup) hash-match DuckDB on
    seeded random tables — not just the driver fixtures."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from xetl_spark.operators import weighted_sample
    from xetl_spark.operators.text import line_dedup
    from xetl_spark.operators.timeseries import ewma, interpolate_linear

    rng = np.random.default_rng(seed)
    n = 2000
    ev_pd = pd.DataFrame(
        {
            "eid": np.arange(n, dtype=np.int64),
            "key": rng.integers(0, 25, size=n).astype(np.int64),
            "ts": pd.Timestamp("2024-03-01")
            + pd.to_timedelta(
                np.sort(rng.integers(0, 21 * 24 * 3600, size=n)), unit="s"
            ),
            "v": np.round(rng.uniform(1, 500, size=n), 2),
            "w": rng.integers(0, 3000, size=n).astype(np.int64),
        }
    )
    # words drawn from a tiny vocab so duplicate lines actually occur
    vocab = np.array(["ax", "by", "cz", "dw", "ev", "fu"])
    docs_pd = pd.DataFrame(
        {
            "doc_id": np.arange(300, dtype=np.int64),
            "text": [
                " ".join(rng.choice(vocab, size=rng.integers(2, 9)))
                for _ in range(300)
            ],
        }
    )
    ev = spark.createDataFrame(ev_pd)
    docs = spark.createDataFrame(docs_pd)
    con.register("ev", ev_pd)
    con.register("docs", docs_pd)

    interp = interpolate_linear(ev, "ts", "key", "v", unit="hour").select(
        "key", F.unix_micros("bucket").alias("bu"), "v", "v_interp"
    )
    interp_sql = """
    WITH b AS (
      SELECT key, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             round(sum(v), 2) AS v
      FROM ev GROUP BY 1, 2
    ), spine AS (
      SELECT key, unnest(generate_series(min(bucket), max(bucket),
                                         INTERVAL 1 HOUR)) AS bucket
      FROM b GROUP BY key
    ), g AS (
      SELECT s.key, s.bucket, b.v, epoch(s.bucket) AS t,
             last_value(CASE WHEN b.v IS NOT NULL THEN
                 struct_pack(t := epoch(s.bucket), val := b.v) END
               IGNORE NULLS) OVER
               (PARTITION BY s.key ORDER BY s.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
             first_value(CASE WHEN b.v IS NOT NULL THEN
                 struct_pack(t := epoch(s.bucket), val := b.v) END
               IGNORE NULLS) OVER
               (PARTITION BY s.key ORDER BY s.bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
      FROM spine s LEFT JOIN b ON s.key = b.key AND s.bucket = b.bucket
    )
    SELECT key, epoch_us(bucket) AS bu, v,
           CASE WHEN p IS NULL THEN n.val
                WHEN n IS NULL THEN p.val
                WHEN n.t > p.t THEN
                  p.val + (n.val - p.val) * ((t - p.t) / (n.t - p.t))
                ELSE p.val END AS v_interp
    FROM g
    """

    ew = ewma(ev, "ts", "key", "v", unit="hour", window=8).select(
        "key", F.unix_micros("bucket").alias("bu"), "v", "ewma_v"
    )
    ew_sql = """
    WITH b AS (
      SELECT key, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             round(sum(v), 2) AS v
      FROM ev GROUP BY 1, 2
    ), f AS (
      SELECT key, bucket, v,
             list(v) OVER (PARTITION BY key ORDER BY bucket
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
      FROM b
    )
    SELECT key, epoch_us(bucket) AS bu, v,
           list_reduce(list_transform(range(1, len(l)+1),
               i -> l[i] * power(0.5, CAST(len(l) - i AS DOUBLE))),
               (a, x) -> a + x)
           / list_reduce(list_transform(range(1, len(l)+1),
               i -> power(0.5, CAST(len(l) - i AS DOUBLE))),
               (a, x) -> a + x) AS ewma_v
    FROM f
    """

    wmed = Window.partitionBy("key").orderBy("ts", "eid").rowsBetween(-4, 0)
    s_arr = F.array_sort(F.collect_list("v").over(wmed))
    nn = F.size(s_arr)
    mid = ((nn + 1) / 2).cast("int")
    half = (nn / 2).cast("int")
    med = F.when(nn % 2 == 1, F.element_at(s_arr, mid)).otherwise(
        (F.element_at(s_arr, half) + F.element_at(s_arr, half + 1)) / 2.0
    )
    movmed = ev.select("eid", "key", med.alias("m5"))
    movmed_sql = """
    SELECT eid, key,
           median(CAST(v AS DOUBLE)) OVER
             (PARTITION BY key ORDER BY ts, eid
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m5
    FROM ev
    """

    ws = weighted_sample(ev, "w", ["eid"], scale=2000).select("eid", "w")
    ws_sql = """
    SELECT eid, w FROM ev
    WHERE CAST(concat('0x', substring(md5(CAST(eid AS VARCHAR)), 1, 8))
               AS BIGINT) * 2000 < w * 4294967296
    """

    ld = line_dedup(docs, "text", "doc_id", line_tokens=2)
    ld_sql = """
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g')), '\\s+') AS t
      FROM docs),
    lines AS (
      SELECT doc_id, CAST(s // 2 AS INT) AS pos,
             array_to_string(t[s+1 : s+2], ' ') AS line
      FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t), 1), 2)) AS s FROM toks)
    ),
    k AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
               AS keep
      FROM lines
    )
    SELECT doc_id, count(*) AS n_lines,
           CAST(count_if(keep) AS BIGINT) AS kept_lines,
           coalesce(string_agg(CASE WHEN keep THEN line END, ' '
                               ORDER BY pos), '') AS new_text
    FROM k GROUP BY doc_id
    """

    cases = {
        "interpolate": (interp, interp_sql),
        "ewma": (ew, ew_sql),
        "moving_median": (movmed, movmed_sql),
        "weighted_sample": (ws, ws_sql),
        "line_dedup": (ld, ld_sql),
    }
    for name, (sdf, sql) in cases.items():
        got = sdf.toPandas()
        want = con.sql(sql).df()
        assert canonical_hash(got) == canonical_hash(want), name


@pytest.mark.parametrize("seed", [5, 71, 129])
def test_random_tables_differential_round4_shapes(spark, con, seed):
    """Bitmap exact distinct, equi-depth histogram, transition counts,
    and basket pairs hash-match DuckDB on seeded random tables."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    n = 3000
    ev_pd = pd.DataFrame(
        {
            "eid": np.arange(n, dtype=np.int64),
            "u": rng.zipf(1.6, size=n).clip(max=40).astype(np.int64),
            "typ": rng.choice(list("abcd"), size=n),
            "grp": rng.choice(["x", "y", "z"], size=n),
            "amt": np.round(rng.uniform(0, 900, size=n), 2),
            "basket": rng.integers(0, 400, size=n).astype(np.int64),
            "item": rng.integers(0, 60, size=n).astype(np.int64),
        }
    )
    ev = spark.createDataFrame(ev_pd)
    con.register("rt", ev_pd)

    bitmap = (
        ev.select(
            "grp",
            F.expr("bitmap_bucket_number(u)").alias("bkt"),
            F.expr("bitmap_bit_position(u)").alias("pos"),
        )
        .groupBy("grp", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("grp")
        .agg(F.expr("sum(bitmap_count(bm))").alias("n_u"))
    )
    bitmap_sql = "SELECT grp, count(DISTINCT u) AS n_u FROM rt GROUP BY grp"

    eq = ev.select(
        "eid",
        F.ntile(8).over(Window.orderBy("amt", "eid")).alias("bucket"),
    ).groupBy("bucket").agg(F.count("*").alias("n"))
    eq_sql = """
    SELECT bucket, count(*) AS n FROM (
      SELECT eid, ntile(8) OVER (ORDER BY amt, eid) AS bucket FROM rt)
    GROUP BY bucket
    """

    w = Window.partitionBy("u").orderBy("eid")
    trans = (
        ev.select("u", "typ", F.lag("typ").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", "typ")
        .agg(F.count("*").alias("n"))
    )
    trans_sql = """
    SELECT prev, typ, count(*) AS n FROM (
      SELECT u, typ, lag(typ) OVER (PARTITION BY u ORDER BY eid) AS prev
      FROM rt) WHERE prev IS NOT NULL
    GROUP BY prev, typ
    """

    # the production operator (single collect_set shuffle + generator
    # expansion, operators/basket.py) against DuckDB's self-join SQL —
    # the randomized fuzz for the r7 rewrite; A-Priori prune exercised
    # on even seeds (semantics-preserving, so the oracle is unchanged)
    from xetl_spark.operators.basket import frequent_pairs

    pairs = frequent_pairs(
        ev, "basket", "item", min_support=2, prune_items=seed % 2 == 0
    ).select(
        F.col("item_a").alias("i"),
        F.col("item_b").alias("j"),
        F.col("n_baskets").alias("n"),
    )
    pairs_sql = """
    WITH it AS (SELECT DISTINCT basket, item FROM rt)
    SELECT a.item AS i, b.item AS j, count(*) AS n
    FROM it a JOIN it b ON a.basket = b.basket AND a.item < b.item
    GROUP BY 1, 2 HAVING count(*) >= 2
    """

    for name, (sdf, sql) in {
        "bitmap_distinct": (bitmap, bitmap_sql),
        "equidepth": (eq, eq_sql),
        "transitions": (trans, trans_sql),
        "basket_pairs": (pairs, pairs_sql),
    }.items():
        got = sdf.toPandas()
        want = con.sql(sql).df()
        assert canonical_hash(got) == canonical_hash(want), name
