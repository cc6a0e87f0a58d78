package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edge semantics from SURVEY.md §7.4 on tiny literal frames. */
class WindowSemanticsSpec extends GraftSuite {
  import spark.implicits._

  private lazy val ts = Seq(
    // (unit, cycle, v)
    (1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0), (1, 4, 40.0),
    (1, 5, 50.0), (1, 6, 60.0), (2, 1, 7.0), (2, 2, 7.0))
    .toDF("unit", "cycle", "v")

  private val w = Window.partitionBy("unit").orderBy("cycle")

  test("W1 rolling mean w=5 matches pandas min_periods=1 partial windows") {
    val got = ts.withColumn("m5", avg($"v").over(w.rowsBetween(-4, 0)))
      .orderBy("unit", "cycle")
      .select("m5").as[Double].collect()
    // unit1: 10, 15, 20, 25, 30, 40 ; unit2: 7, 7
    assert(got.toSeq == Seq(10.0, 15.0, 20.0, 25.0, 30.0, 40.0, 7.0, 7.0))
  }

  test("W3 lag diff: first row per partition is null") {
    val got = ts.withColumn("d", $"v" - lag($"v", 1).over(w))
      .orderBy("unit", "cycle").select("d").collect()
    assert(got(0).isNullAt(0) && got(6).isNullAt(0))
    assert(got(1).getDouble(0) == 10.0)
  }

  test("W4 partition max (RUL shape): unbounded frame, decreasing to 0") {
    val got = ts.withColumn("rul",
      max($"cycle").over(Window.partitionBy("unit")) - $"cycle")
      .orderBy("unit", "cycle").select("rul").as[Int].collect()
    assert(got.toSeq == Seq(5, 4, 3, 2, 1, 0, 1, 0))
  }

  test("W5 z-score: ddof=0 (population) stddev; constant partition -> null") {
    val sd = stddev_pop($"v").over(Window.partitionBy("unit"))
    val mu = avg($"v").over(Window.partitionBy("unit"))
    val got = ts.withColumn("z", when(sd =!= 0, ($"v" - mu) / sd))
      .orderBy("unit", "cycle").select("z").collect()
    // unit 2 is constant -> 0/0 -> null (pandas NaN convention)
    assert(got(6).isNullAt(0) && got(7).isNullAt(0))
    // unit 1: mean 35, stddev_pop = sqrt(variance with ddof=0)
    val z1 = got(0).getDouble(0)
    assert(math.abs(z1 - (10.0 - 35.0) / math.sqrt(291.6666666666667)) < 1e-9)
  }

  test("A3 last-per-group takes the true last row (SURVEY §7.4.3)") {
    val df = Seq((1, 1, Some(5.0)), (1, 2, None), (2, 1, Some(1.0)))
      .toDF("unit", "cycle", "v")
    val wd = Window.partitionBy("unit").orderBy($"cycle".desc)
    val got = df.withColumn("rn", row_number().over(wd)).filter($"rn" === 1)
      .orderBy("unit").collect()
    // last ROW semantics: unit 1 keeps cycle 2 with null v (documented
    // divergence from pandas groupby().last() per-column skip-null)
    assert(got(0).getInt(1) == 2 && got(0).isNullAt(2))
  }

  test("wf_features produces all five feature families, non-empty") {
    val f = operators.Windows.features(spark, sf)
    assert(f.columns.toSet == Set("user_id", "event_id", "rul",
      "mean5_value", "mean20_value", "d_value", "z_value"))
    assert(f.count() == Tables.events(spark, sf).count())
  }

  test("W17 EWMA: first row is its own value; brute-force match on one user") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("w17_ewma")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = events.groupBy(_._1).map { case (u, rs) =>
      u -> rs.sortBy(r => (r._3, r._2))
    }
    // first row per user: the frame is just the value → ewma = value
    byUser.values.foreach { rs =>
      val (_, eid, _, v) = rs.head
      assert(math.abs(got(eid) - v) < 1e-6, s"first-row ewma for $eid")
    }
    // full brute-force replication of the truncated-frame formula for
    // one user — catches weight-order bugs the identity check can't
    val rs = byUser.head._2
    rs.indices.foreach { i =>
      val frame = rs.slice(math.max(0, i - 19), i + 1).map(_._4)
      val n = frame.length
      val num = frame.zipWithIndex
        .map { case (x, j) => x * math.pow(0.8, n - 1 - j) }.sum
      val den = (0 until n).map(k => math.pow(0.8, k)).sum
      assert(math.abs(got(rs(i)._2) - num / den) < 1e-5,
        s"ewma mismatch at row $i of user ${rs(i)._1}")
    }
  }

  test("es_funnel matches a per-user brute-force funnel walk") {
    val got = SparkEntry.queries("es_funnel")(spark, sf).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getInt(4))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val users = ev.map(_._1).distinct
    assert(got.keySet == users.toSet)
    users.foreach { u =>
      val mine = ev.filter(_._1 == u)
      def firstAfter(t: String, after: Option[Long]): Option[Long] =
        after.flatMap { a =>
          val c = mine.filter(e => e._2 == t && e._3 > a).map(_._3)
          if (c.isEmpty) None else Some(c.min)
        }
      val tv = { val c = mine.filter(_._2 == "view").map(_._3)
        if (c.isEmpty) None else Some(c.min) }
      val tc = firstAfter("click", tv)
      val tp = firstAfter("purchase", tc)
      val depth = Seq(tv, tc, tp).takeWhile(_.isDefined).length
      assert(got(u) == ((tv, tc, tp, depth)), s"user $u funnel mismatch")
    }
    // non-vacuity: for at least one user the funnel DISCARDED an early
    // out-of-order event (their first raw purchase precedes their first
    // qualifying click, so t_purchase > min raw purchase ts) — without
    // this the "strictly after the previous step" constraint would be
    // untested by the corpus
    val ordered = users.exists { u =>
      val rawP = ev.filter(e => e._1 == u && e._2 == "purchase").map(_._3)
      rawP.nonEmpty && got(u)._3.exists(_ > rawP.min)
    }
    assert(ordered, "no user exercises the after-previous-step constraint")
  }

  test("es_retention: offset-0 is total, counts bounded, cohorts partition users") {
    val rows = SparkEntry.queries("es_retention")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    // offset 0: every user is active in their own cohort week
    rows.filter(_._2 == 0L).foreach { case (cw, _, act, coh, ret) =>
      assert(act == coh && ret == 1.0, s"cohort $cw offset-0 not total")
    }
    // bounded: active never exceeds the cohort
    rows.foreach { case (cw, off, act, coh, _) =>
      assert(act <= coh, s"cohort $cw offset $off active $act > cohort $coh")
    }
    // cohorts partition the user population exactly once
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    val cohortTotal = rows.filter(_._2 == 0L).map(_._4).sum
    assert(cohortTotal == users, s"cohort sizes sum $cohortTotal != $users users")
  }
}
