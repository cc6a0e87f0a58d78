package graft

/** The one-text ratchet: every oracle text that Spark can analyze through
  * [[Tables.sql]] is that query's build, unless the keep-list below says
  * why its Scala body stays. A new Scala body where the oracle's own text
  * would do fails here, and so does a keep-list entry whose text no
  * longer analyzes. Texts are analyzed at sf0.001, never run.
  */
class SqlTextRatchetSpec extends GraftSuite {

  private val roundTrip = "the write/read round-trip is the operator under " +
    "test; the oracle recomputes from parquet"

  private val keep: Map[String, String] = Map(
    "io_csv_roundtrip" -> roundTrip,
    "io_jsonl_roundtrip" -> roundTrip,
    "io_orc_roundtrip" -> roundTrip,
    "io_text_scan" -> roundTrip,
    "s1_text_scan" -> roundTrip,
    "o6_bucket_join" -> "the bucketed layout is the operator under test",
    "a16_approx_distinct" ->
      "the HLL bound flags are Spark-side; the oracle pins them TRUE",
    "g2_triangles" -> "the graph algorithm is the operator under test",
    "g4_jaccard" -> "the graph algorithm is the operator under test",
    "mm_parse" -> "the multimodal parser is the operator under test",
    "mm_video_meta" -> "the multimodal parser is the operator under test",
    "tpch_q1" -> "perfbench query_mix query: its plan stays fixed",
    "a13_medians" -> "perfbench query_mix query: its plan stays fixed",
    "w22_rolling_corr" -> "slower as SQL (4.62 -> 7.19 s at sf0.1, 4 CPUs)",
    "tpch_q2" -> "slower as SQL (0.46 -> 0.67 s at sf0.1, 4 CPUs)",
    "dq_profile" ->
      "a double avg summed in SQL's order is off in the 6th decimal")

  private def analyzes(text: String): Boolean =
    try { Tables.sql(spark, sf, text); true }
    catch { case _: Exception => false }

  test("every analyzable oracle text is its query's build, or kept by name") {
    val bodies = SparkEntry.specs.collect {
      case QuerySpec(n, build, Oracle(text), _)
          if !build.isInstanceOf[SqlText] && analyzes(text) => n
    }.toSet
    assert(bodies == keep.keySet,
      s"\nScala bodies whose oracle text analyzes, not kept: " +
        (bodies -- keep.keySet).toSeq.sorted.mkString(", ") +
        s"\nkept, but no longer analyzable or moved: " +
        (keep.keySet -- bodies).toSeq.sorted.mkString(", "))
  }

  test("a one-text query's oracle is its build's text") {
    val specs = SparkEntry.specs.collect {
      case s @ QuerySpec(_, t: SqlText, _, _) => (s, t)
    }
    assert(specs.size >= 75)
    specs.foreach { case (s, t) => assert(s.check == Oracle(t.text), s.name) }
  }
}
