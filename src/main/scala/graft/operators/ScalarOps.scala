package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function surfaces (arrays, regex, bitwise, strings, datetime,
  * maps, binary encode/decode), offset pagination and null-semantics —
  * one narrow codegen'd pass each. Split out of Extended.scala for
  * maintainability — registry keys and semantics unchanged. All
  * oracle-checked against DuckDB.
  */
object ScalarOps {

  /** Array-function surface over the embedding column: size, indexing,
    * min/max, slice + aggregate — all codegen'd, one narrow pass.
    */
  private def f5Array(s: SparkSession, d: String): DataFrame = {
    val e = col("embedding").cast("array<double>")
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(e).as("dim"),
      r6(element_at(e, 1)).as("first"),
      r6(array_max(e)).as("mx"),
      r6(array_min(e)).as("mn"),
      r6(aggregate(slice(e, 1, 8), lit(0.0), _ + _)).as("head_sum"))
  }

  /** Regex function surface: global replace, group extraction, match
    * predicate — all codegen'd; patterns kept in the RE2-compatible
    * subset so Java and DuckDB regex engines agree.
    */
  private def f6Regex(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      substring(regexp_replace(col("text"), "[0-9]+", "#"), 1, 40).as("masked"),
      regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
      col("text").rlike("data").cast("int").as("has_data"))

  /** Bitwise scalar surface: and/or/xor/shifts/bit_count — the hash and
    * signature pipelines use these internally; declared here as a
    * first-class oracle-checked family.
    */
  private def f9Bitwise(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      col("event_id").bitwiseAND(lit(0xFFL)).as("b_and"),
      col("event_id").bitwiseOR(lit(0x100L)).as("b_or"),
      col("event_id").bitwiseXOR(col("user_id")).as("b_xor"),
      shiftleft(col("event_id"), 3).as("shl"),
      shiftrightunsigned(col("event_id"), 2).as("shr"),
      bit_count(col("event_id")).as("popcnt"))

  /** Datetime extraction surface: calendar fields + truncation. The
    * dayofweek convention differs between engines (Spark 1=Sunday,
    * DuckDB 0=Sunday) — the oracle maps explicitly rather than trusting
    * same-named functions to agree.
    */
  private def f7Datetime(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      year(col("ts")).as("y"),
      quarter(col("ts")).as("q"),
      month(col("ts")).as("m"),
      dayofmonth(col("ts")).as("dom"),
      hour(col("ts")).as("h"),
      dayofweek(col("ts")).as("dow1"), // 1 = Sunday
      weekofyear(col("ts")).as("iso_week"),
      tsUs(date_trunc("day", col("ts"))).as("day_us"))

  /** Binary encode/decode surface: base64 and hex round-trips over the
    * utf-8 payload — the wire formats multimodal binary columns cross
    * system boundaries in. Round-trip equality is asserted IN the query
    * (rt_ok) so the oracle checks both directions.
    */
  private def f13Encode(s: SparkSession, d: String): DataFrame = {
    val payload = encode(col("text"), "UTF-8")
    // This build chunks base64 past 57 bytes (76-char MIME lines with
    // CRLF): spark.sql.chunkBase64String.enabled is true here
    // (empirically verified — 100 bytes encode to 138 chars, not 136);
    // DuckDB never chunks. Strip the line breaks so lengths and any
    // slice past the first line agree — unbase64 accepts both forms,
    // so this is correct whichever way the conf is set.
    val b64 = translate(base64(payload), "\r\n", "")
    Tables.documents(s, d).select(
      col("doc_id"),
      substring(b64, 1, 24).as("b64_prefix"),
      substring(hex(payload), 1, 24).as("hex_prefix"),
      (length(b64) % 4).cast("long").as("b64_pad_mod"),
      (decode(unbase64(b64), "UTF-8") === col("text") &&
        decode(unhex(hex(payload)), "UTF-8") === col("text"))
        .cast("int").as("rt_ok"))
  }

  /** Higher-order lambda surface (transform / filter / exists / forall
    * / sort-then-reduce) — the codegen'd array combinators a feature
    * pipeline leans on instead of exploding vectors to rows (an explode
    * multiplies the shuffle by the array width; a lambda keeps the work
    * inside the row's codegen stage). DuckDB twins via list_filter /
    * list_sort / list_sum — predicates are phrased so both engines
    * evaluate identical arithmetic.
    */
  private def f14Lambda(s: SparkSession, d: String): DataFrame = {
    val e = col("embedding").cast("array<double>")
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(filter(e, _ > 0)).as("n_pos"),
      r6(aggregate(transform(e, x => x * x), lit(0.0), _ + _)).as("sum_sq"),
      exists(e, _ > 0.2).cast("int").as("has_big"),
      forall(e, x => abs(x) < lit(1.0)).cast("int").as("all_small"),
      r6(aggregate(slice(sort_array(e, asc = false), 1, 3),
        lit(0.0), _ + _)).as("top3_sum"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("f14_lambda", f14Lambda _, Oracle(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings)
        |SELECT vec_id,
        |  CAST(len(list_filter(e, x -> x > 0)) AS INT) AS n_pos,
        |  round(list_sum(list_transform(e, x -> x * x)), 6) AS sum_sq,
        |  CAST(len(list_filter(e, x -> x > 0.2)) > 0 AS INT) AS has_big,
        |  CAST(len(list_filter(e, x -> abs(x) >= 1.0)) = 0 AS INT)
        |    AS all_small,
        |  round(list_sum(list_sort(e, 'DESC')[1:3]), 6) AS top3_sum
        |FROM v ORDER BY vec_id""".stripMargin)),
    QuerySpec("f5_array", f5Array _, Oracle(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings)
        |SELECT vec_id, CAST(len(e) AS INT) AS dim,
        |  round(e[1], 6) AS first,
        |  round(list_max(e), 6) AS mx,
        |  round(list_min(e), 6) AS mn,
        |  round(list_sum(e[1:8]), 6) AS head_sum
        |FROM v ORDER BY vec_id""".stripMargin)),
    // DuckDB regexp_replace needs the 'g' flag to match Java's
    // replace-all semantics.
    QuerySpec("f6_regex", f6Regex _, Oracle(
      """SELECT doc_id,
        |  substr(regexp_replace(text, '[0-9]+', '#', 'g'), 1, 40) AS masked,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  CAST(regexp_matches(text, 'data') AS INT) AS has_data
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("f7_datetime", f7Datetime _, Oracle(
      """SELECT event_id,
        |  CAST(year(ts) AS INT) AS y,
        |  CAST(quarter(ts) AS INT) AS q,
        |  CAST(month(ts) AS INT) AS m,
        |  CAST(day(ts) AS INT) AS dom,
        |  CAST(hour(ts) AS INT) AS h,
        |  CAST(dayofweek(ts) + 1 AS INT) AS dow1,
        |  CAST(weekofyear(ts) AS INT) AS iso_week,
        |  epoch_us(date_trunc('day', ts)) AS day_us
        |FROM events ORDER BY event_id""".stripMargin)),
    QuerySpec("f9_bitwise", f9Bitwise _, Oracle(
      """SELECT event_id,
        |  event_id & 255 AS b_and,
        |  event_id | 256 AS b_or,
        |  xor(event_id, user_id) AS b_xor,
        |  event_id << 3 AS shl,
        |  event_id >> 2 AS shr,
        |  CAST(bit_count(event_id) AS INT) AS popcnt
        |FROM events ORDER BY event_id""".stripMargin)),
    QuerySpec.sql("f10_string",
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '.') AS brand_pad,
        |  translate(p_type, 'aeiou', 'AEIOU') AS type_vowels,
        |  reverse(p_brand) AS brand_rev,
        |  replace(p_name, ' ', '_') AS name_snake,
        |  CAST(len(p_name) AS INT) AS name_len
        |FROM part""".stripMargin),
    QuerySpec.sql("f12_map",
      """WITH pa AS (SELECT user_id, event_type,
        |  round(avg(value), 6) AS v FROM events GROUP BY user_id, event_type)
        |SELECT user_id,
        |  CAST(count(*) AS INT) AS n_types,
        |  max(CASE WHEN event_type = 'click' THEN v END) AS click_avg,
        |  max(CASE WHEN event_type = 'error' THEN v END) AS error_avg
        |FROM pa GROUP BY user_id""".stripMargin),
    QuerySpec("f13_encode", f13Encode _, Oracle(
      """SELECT doc_id,
        |  substr(base64(encode(text)), 1, 24) AS b64_prefix,
        |  substr(hex(encode(text)), 1, 24) AS hex_prefix,
        |  CAST(len(base64(encode(text))) % 4 AS BIGINT) AS b64_pad_mod,
        |  CAST(decode(from_base64(base64(encode(text)))) = text
        |    AND decode(unhex(hex(encode(text)))) = text AS INT) AS rt_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec.sql("o4_offset",
      """SELECT * FROM supplier ORDER BY s_suppkey
        |LIMIT 20 OFFSET 10""".stripMargin),
    QuerySpec.sql("p14_null_semantics",
      """SELECT l_orderkey, l_linenumber,
        |  round(coalesce(nullif(l_discount, 0.0), -1.0), 6) AS disc_or_neg1,
        |  CAST(nullif(l_discount, 0.0) IS NOT DISTINCT FROM
        |    nullif(l_tax, 0.0) AS INT) AS disc_eq_tax_nullsafe,
        |  CAST(nullif(l_discount, 0.0) IS NULL AS INT) AS disc_is_null
        |FROM lineitem""".stripMargin))
}
