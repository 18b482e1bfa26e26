package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Melt
import graft.stats.{Anova, Auc, Binning, ChiSq, Correlation, Entropy}
import Query.{liFeatures, t}

/** Filter-score queries: correlations, entropy, chi-square, AUC, ANOVA, median split. */
object Stats {
  private val liCase =
    "CASE f.feature WHEN 'l_quantity' THEN l_quantity WHEN 'l_discount' THEN l_discount ELSE l_tax END"

  private def scoreDF(s: SparkSession, m: Seq[(String, Double)]): DataFrame = {
    import s.implicits._
    m.toDF("feature", "score").select(col("feature"), round(col("score"), 6).as("score"))
  }

  val all: Seq[Query] = Seq(
    Query("q_corr_pearson", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = Correlation.pearson(li, liFeatures, "l_extendedprice")
      scoreDF(s, liFeatures.map(f => f -> m(f).get)).orderBy("feature")
    }, Some(
      """SELECT 'l_quantity' AS feature, round(corr(l_quantity, l_extendedprice), 6) AS score FROM lineitem
        |UNION ALL SELECT 'l_discount', round(corr(l_discount, l_extendedprice), 6) FROM lineitem
        |UNION ALL SELECT 'l_tax', round(corr(l_tax, l_extendedprice), 6) FROM lineitem
        |ORDER BY feature""".stripMargin)),
    Query("q_corr_spearman", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = Correlation.spearman(li, liFeatures, "l_extendedprice")
      scoreDF(s, liFeatures.map(f => f -> m(f).get)).orderBy("feature")
    }, Some(
      """WITH r AS (
        |  SELECT
        |    rank() OVER (ORDER BY l_quantity) + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
        |    rank() OVER (ORDER BY l_discount) + (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rd,
        |    rank() OVER (ORDER BY l_tax) + (count(*) OVER (PARTITION BY l_tax) - 1) / 2.0 AS rt,
        |    rank() OVER (ORDER BY l_extendedprice) + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ry
        |  FROM lineitem)
        |SELECT 'l_quantity' AS feature, round(corr(rq, ry), 6) AS score FROM r
        |UNION ALL SELECT 'l_discount', round(corr(rd, ry), 6) FROM r
        |UNION ALL SELECT 'l_tax', round(corr(rt, ry), 6) FROM r
        |ORDER BY feature""".stripMargin)),
    // full CAR with the AUTO-estimated shrinkage intensity (care::carscore
    // lambda=NA default). p=2 keeps R_X^{-1/2} in closed form, so the DuckDB
    // oracle replays the ENTIRE computation — Schäfer–Strimmer λ* included.
    Query("q_car_lambda", (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val feats = Seq("l_quantity", "l_discount")
      val lam = Correlation.estimateLambda(li, feats :+ "l_extendedprice")
      // pass the already-estimated intensity: carScores(None) would run the
      // two estimateLambda aggregation jobs a second time for a bit-equal
      // result (StatsSpec pins auto == pinned at 1e-12)
      val car = Correlation.carScores(li, feats, "l_extendedprice", Some(lam))
      // 4 dp, not 6: the replay accumulates multi-stage float error (z-scores,
      // 4th-power sums, λ*, closed-form eigens) — same precedent as the OLS
      // coefficients and F-stats, where engines only agree to ~1e-7
      feats.map(f => (f, car(f), lam)).toDF("feature", "score", "lambda")
        .select(col("feature"), round(col("score"), 4).as("score"),
          round(col("lambda"), 4).as("lambda"))
        .orderBy("feature")
    }, Some(
      // Full replay of carScores with auto lambda: Schäfer–Strimmer λ* over the
      // standardized joint (y, X) matrix, then ω = R'^{-1/2} ρ' with the p=2
      // closed form a,b = (1/sqrt(1+ρ') ± 1/sqrt(1−ρ'))/2.
      """WITH s AS MATERIALIZED (
        |  SELECT count(*) AS n,
        |         avg(l_quantity) AS mq, stddev_samp(l_quantity) AS sq,
        |         avg(l_discount) AS md, stddev_samp(l_discount) AS sd,
        |         avg(l_extendedprice) AS my, stddev_samp(l_extendedprice) AS sy
        |  FROM lineitem),
        |z AS MATERIALIZED (
        |  SELECT (l_quantity - mq) / sq AS zq, (l_discount - md) / sd AS zd,
        |         (l_extendedprice - my) / sy AS zy
        |  FROM lineitem, s),
        |ps AS MATERIALIZED (
        |  SELECT sum(zq*zd) AS s1qd, sum(zq*zq*zd*zd) AS s2qd,
        |         sum(zq*zy) AS s1qy, sum(zq*zq*zy*zy) AS s2qy,
        |         sum(zd*zy) AS s1dy, sum(zd*zd*zy*zy) AS s2dy
        |  FROM z),
        |lam AS MATERIALIZED (
        |  SELECT least(1.0, greatest(0.0,
        |    (2*(s2qd/n + s2qy/n + s2dy/n)
        |       - 2*((s1qd/n)*(s1qd/n) + (s1qy/n)*(s1qy/n) + (s1dy/n)*(s1dy/n)))
        |    / (2*((s1qd/n)*(s1qd/n) + (s1qy/n)*(s1qy/n) + (s1dy/n)*(s1dy/n)))
        |    / (n - 1))) AS lambda
        |  FROM ps, s),
        |c AS MATERIALIZED (
        |  SELECT corr(l_quantity, l_discount) AS rqd,
        |         corr(l_quantity, l_extendedprice) AS rqy,
        |         corr(l_discount, l_extendedprice) AS rdy
        |  FROM lineitem),
        |o AS MATERIALIZED (
        |  SELECT lambda,
        |    (1-lambda)*rqy AS pqy, (1-lambda)*rdy AS pdy,
        |    (1/sqrt(1+(1-lambda)*rqd) + 1/sqrt(1-(1-lambda)*rqd))/2 AS a,
        |    (1/sqrt(1+(1-lambda)*rqd) - 1/sqrt(1-(1-lambda)*rqd))/2 AS b
        |  FROM lam, c)
        |SELECT * FROM (
        |  SELECT 'l_quantity' AS feature, round(a*pqy + b*pdy, 4) AS score,
        |         round(lambda, 4) AS lambda FROM o
        |  UNION ALL
        |  SELECT 'l_discount', round(b*pqy + a*pdy, 4), round(lambda, 4) FROM o)
        |ORDER BY feature""".stripMargin)),
    Query("q_entropy_scores", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val long0 = Melt.numeric(li, liFeatures, keep = Seq("l_returnflag", "l_orderkey", "l_linenumber"))
      val binned = Binning.ntileBins(long0, 5, struct(col("l_orderkey"), col("l_linenumber")))
        .select(col("feature"), col("bin").as("xb"), col("l_returnflag").as("yb"))
      Entropy.entropyTerms(binned).select(
        col("feature"),
        round(col("hx") + col("hy") - col("hxy"), 6).as("infogain"),
        round((col("hx") + col("hy") - col("hxy")) / col("hx"), 6).as("gainratio"),
        round(lit(2) * (col("hx") + col("hy") - col("hxy")) / (col("hx") + col("hy")), 6).as("symuncert")
      ).orderBy("feature")
    }, Some(
      s"""WITH b AS (
        |  SELECT l_returnflag AS y, f.feature, $liCase AS v, l_orderkey, l_linenumber
        |  FROM lineitem CROSS JOIN (VALUES ('l_quantity'), ('l_discount'), ('l_tax')) f(feature)),
        |nb AS (
        |  SELECT feature, ntile(5) OVER (PARTITION BY feature ORDER BY v, l_orderkey, l_linenumber) AS xb, y
        |  FROM b),
        |j AS (SELECT feature, xb, y, count(*) AS c FROM nb GROUP BY 1, 2, 3),
        |tot AS (SELECT feature, sum(c) AS n FROM j GROUP BY 1),
        |hx AS (SELECT jx.feature, -sum(cx / n * ln(cx / n)) AS hx
        |       FROM (SELECT feature, xb, CAST(sum(c) AS DOUBLE) AS cx FROM j GROUP BY 1, 2) jx
        |       JOIN tot USING (feature) GROUP BY 1),
        |hy AS (SELECT jy.feature, -sum(cy / n * ln(cy / n)) AS hy
        |       FROM (SELECT feature, y, CAST(sum(c) AS DOUBLE) AS cy FROM j GROUP BY 1, 2) jy
        |       JOIN tot USING (feature) GROUP BY 1),
        |hxy AS (SELECT j.feature, -sum(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / n)) AS hxy
        |        FROM j JOIN tot USING (feature) GROUP BY 1)
        |SELECT feature, round(hx + hy - hxy, 6) AS infogain,
        |  round((hx + hy - hxy) / hx, 6) AS gainratio,
        |  round(2 * (hx + hy - hxy) / (hx + hy), 6) AS symuncert
        |FROM hx JOIN hy USING (feature) JOIN hxy USING (feature) ORDER BY feature""".stripMargin)),
    Query("q_chisq_stat", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderstatus"),
        col("o_orderpriority"),
        when(col("o_totalprice") > 100000, "hi").otherwise("lo").as("value_bucket"))
      val long = Melt.categorical(o, Seq("o_orderpriority", "value_bucket"), keep = Seq("o_orderstatus"))
        .select(col("feature"), col("value").as("xb"), col("o_orderstatus").as("yb"))
      val counts = ChiSq.contingency(long).collect()
      val stats = counts.groupBy(_.getString(0)).toSeq.map { case (f, rows) =>
        val xs = rows.map(_.get(1).toString).distinct.sorted
        val ys = rows.map(_.get(2).toString).distinct.sorted
        val obs = Array.ofDim[Double](xs.length, ys.length)
        rows.foreach { r =>
          obs(xs.indexOf(r.get(1).toString))(ys.indexOf(r.get(2).toString)) = r.getLong(3).toDouble
        }
        f -> ChiSq.chisqTest(obs)._1
      }
      scoreDF(s, stats).withColumnRenamed("score", "stat").orderBy("feature")
    }, Some(
      """WITH b AS (
        |  SELECT o_orderstatus AS y, f.feature,
        |    CASE f.feature WHEN 'o_orderpriority' THEN o_orderpriority
        |         ELSE CASE WHEN o_totalprice > 100000 THEN 'hi' ELSE 'lo' END END AS x
        |  FROM orders CROSS JOIN (VALUES ('o_orderpriority'), ('value_bucket')) f(feature)),
        |j AS (SELECT feature, x, y, CAST(count(*) AS DOUBLE) AS c FROM b GROUP BY 1, 2, 3),
        |rs AS (SELECT feature, x, sum(c) AS rc FROM j GROUP BY 1, 2),
        |cs AS (SELECT feature, y, sum(c) AS cc FROM j GROUP BY 1, 2),
        |n AS (SELECT feature, sum(c) AS n FROM j GROUP BY 1),
        |e AS (SELECT rs.feature, rs.x, cs.y, rs.rc * cs.cc / n.n AS e
        |      FROM rs JOIN cs ON rs.feature = cs.feature JOIN n ON rs.feature = n.feature)
        |SELECT e.feature AS feature, round(sum(pow(COALESCE(j.c, 0) - e.e, 2) / e.e), 6) AS stat
        |FROM e LEFT JOIN j ON j.feature = e.feature AND j.x = e.x AND j.y = e.y
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("q_auc", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount")
      val long = Melt.numeric(li, feats, keep = Seq("l_linestatus"))
        .select(col("feature"), col("value"), col("l_linestatus").as("y"))
      Auc.scoresAuto(long, li.select(col("l_linestatus").as("y")))
        .select(col("feature"), round(col("score"), 6).as("score"))
        .orderBy("feature")
    }, Some(
      """WITH m AS (
        |  SELECT f.feature,
        |    CASE f.feature WHEN 'l_quantity' THEN l_quantity
        |         WHEN 'l_extendedprice' THEN l_extendedprice ELSE l_discount END AS v,
        |    CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS ispos
        |  FROM lineitem CROSS JOIN (VALUES ('l_quantity'), ('l_extendedprice'), ('l_discount')) f(feature)),
        |bv AS (SELECT feature, v, count(*) AS cnt, sum(ispos) AS cp FROM m GROUP BY 1, 2),
        |rk AS (SELECT feature, v, cnt, cp,
        |         COALESCE(sum(cnt) OVER (PARTITION BY feature ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + (cnt + 1) / 2.0 AS midrank
        |       FROM bv),
        |agg AS (SELECT feature, sum(cp * midrank) AS rpos, sum(cp) AS npos, sum(cnt) - sum(cp) AS nneg
        |        FROM rk GROUP BY 1)
        |SELECT feature, round(greatest(a, 1 - a), 6) AS score
        |FROM (SELECT feature, (rpos - npos * (npos + 1) / 2.0) / (npos * nneg) AS a FROM agg) t
        |ORDER BY feature""".stripMargin)),
    Query("q_median_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val med = Binning.exactMedian(docs, "n_chars")
      docs.select(Binning.medianSplitCol(col("n_chars").cast("double"), med).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }, Some(
      """WITH m AS (SELECT median(n_chars) AS md FROM documents)
        |SELECT CASE WHEN n_chars <= md THEN 'l' ELSE 'h' END AS bucket, count(*) AS n
        |FROM documents CROSS JOIN m GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("q_aov", (s, dir) => {
      val res = Anova.typeISS(t(s, dir, "lineitem"), "l_extendedprice", Seq("l_returnflag"))
      scoreDF(s, res.map(r => r.feature -> r.f))
        .select(col("feature"), round(col("score"), 4).as("f_stat"))
        .orderBy("feature")
    }, Some(
      """WITH stats AS (SELECT l_returnflag AS g, count(*) AS n, avg(l_extendedprice) AS m
        |               FROM lineitem GROUP BY 1),
        |tot AS (SELECT count(*) AS n, avg(l_extendedprice) AS m FROM lineitem),
        |ssb AS (SELECT sum(s.n * (s.m - t.m) * (s.m - t.m)) AS ss, count(*) - 1 AS df1
        |        FROM stats s CROSS JOIN tot t),
        |sse AS (SELECT sum((l.l_extendedprice - s.m) * (l.l_extendedprice - s.m)) AS ss,
        |               (SELECT n FROM tot) - (SELECT count(*) FROM stats) AS df2
        |        FROM lineitem l JOIN stats s ON l.l_returnflag = s.g)
        |SELECT 'l_returnflag' AS feature, round((ssb.ss / ssb.df1) / (sse.ss / sse.df2), 4) AS f_stat
        |FROM ssb CROSS JOIN sse""".stripMargin)),
    Query("q_aov_seq", (s, dir) => {
      import s.implicits._
      Anova.typeISS(t(s, dir, "lineitem"), "l_extendedprice", Seq("l_returnflag", "l_linestatus"))
        .map(r => (r.feature, r.df, BigDecimal(r.f).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("feature", "df", "f_stat")
    }, Some(
      // Sequential Type-I ANOVA, 2 factors: RSS(1) and RSS(1+g1) are group-mean
      // residual sums; adding the single l_linestatus dummy has the closed form
      // RSS2 = RSS1 − ⟨e_x,e_y⟩²/⟨e_x,e_x⟩ where e_* are residuals after
      // subtracting per-g1-group means (projecting out intercept+g1).
      """WITH d AS (SELECT l_returnflag AS g1, l_linestatus AS g2, l_extendedprice AS y FROM lineitem),
        |l2 AS (SELECT g2 AS v FROM d GROUP BY g2 ORDER BY g2 LIMIT 1 OFFSET 1),
        |nn AS (SELECT count(*) AS n FROM d),
        |m0 AS (SELECT avg(y) AS m FROM d),
        |gm AS (SELECT g1, avg(y) AS m1 FROM d GROUP BY 1),
        |r0 AS (SELECT sum(pow(y - m, 2)) AS rss0 FROM d CROSS JOIN m0),
        |r1 AS (SELECT sum(pow(y - m1, 2)) AS rss1 FROM d JOIN gm USING (g1)),
        |e AS (SELECT y - avg(y) OVER (PARTITION BY g1) AS ey,
        |        (CASE WHEN g2 = (SELECT v FROM l2) THEN 1.0 ELSE 0.0 END)
        |          - avg(CASE WHEN g2 = (SELECT v FROM l2) THEN 1.0 ELSE 0.0 END)
        |              OVER (PARTITION BY g1) AS ex
        |      FROM d),
        |r2 AS (SELECT (SELECT rss1 FROM r1) - pow(sum(ex * ey), 2) / sum(ex * ex) AS rss2 FROM e),
        |f AS (SELECT rss0, rss1, rss2, n FROM r0, r1, r2, nn)
        |SELECT feature, df, f_stat FROM (
        |  SELECT 'l_returnflag' AS feature, 2 AS df,
        |         round(((rss0 - rss1) / 2) / (rss2 / (n - 4)), 4) AS f_stat FROM f
        |  UNION ALL
        |  SELECT 'l_linestatus', 1, round((rss1 - rss2) / (rss2 / (n - 4)), 4) FROM f)
        |ORDER BY feature""".stripMargin))
  )
}
