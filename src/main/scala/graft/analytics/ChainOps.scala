package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.Tables

/** The reference's chain-sync operator semantics (SURVEY.md §2) re-expressed
  * over the `events` stream-table fixture — `events` plays the op stream
  * (`event_type` = op type router key, `user_id` = account, `props` = the
  * JSON metadata column that needs repair).
  *
  * Each query mirrors a reference behavior, cited by the SURVEY row; all
  * are single-scan declarative plans so Catalyst prunes columns and pushes
  * the type filters into the parquet scan.
  */
object ChainOps {
  import Relational.QFn

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // P1/P2: op-type router — filter+project one typed branch of the stream
    // (reference listener.js:148-155; filter is pushed to the parquet scan).
    ("q20_router", (s: SparkSession, dir: String) => {
      Tables(s, dir).events
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase' ORDER BY event_id""")),

    // P4/F10: JSON metadata extraction with null-safe default
    // (reference handlers/comments.js:22-40 repair-with-fallback).
    ("q21_json_extract", (s: SparkSession, dir: String) => {
      Tables(s, dir).events
        .select(col("event_id"),
                coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L)).as("k"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id,
        COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k
      FROM events ORDER BY event_id""")),

    // A3/W1/SRC4: latest-record-wins per key — the upsert dedup
    // (reference handlers/comments.js:118-142).
    ("q22_latest_per_key", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables(s, dir).events
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
                col("ts").as("last_ts"), col("event_type").as("last_type"))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1
      ORDER BY user_id""")),

    // A1: distinct-set accumulation split by a sign predicate — the
    // upvotes/downvotes voter sets (reference handlers/votes.js:11-19).
    // collect_set gives map-side dedup (partial aggregation) for free.
    // Final projection emits the sorted sets as comma-joined strings: the
    // driver's hash layer can't sort array-typed columns (VERDICT r1 #2),
    // and a sorted join is a lossless representation of the set.
    ("q23_collect_sets", (s: SparkSession, dir: String) => {
      Tables(s, dir).events
        .groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(when(col("value") >= 0.5, col("event_type")))), ",").as("hi_types"),
             array_join(array_sort(collect_set(when(col("value") < 0.5, col("event_type")))), ",").as("lo_types"))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id,
        COALESCE(array_to_string(list_sort(list(DISTINCT event_type) FILTER (WHERE value >= 0.5)), ','), '') AS hi_types,
        COALESCE(array_to_string(list_sort(list(DISTINCT event_type) FILTER (WHERE value < 0.5)), ','), '') AS lo_types
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // A2: last-active max across the activity stream
    // (reference handlers/comments.js:179-181, votes.js:26-27).
    ("q24_last_active", (s: SparkSession, dir: String) => {
      Tables(s, dir).events
        .groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_active"),
             min(col("ts")).as("first_seen"),
             count(lit(1)).as("n_ops"))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id, MAX(ts) AS last_active, MIN(ts) AS first_seen,
             CAST(COUNT(*) AS BIGINT) AS n_ops
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // S7/§2.7: union-all of typed handler branches before the single sink
    // (reference listener.js:168-176 Promise.all + flat).
    ("q25_union_all", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).events
      def branch(tpe: String, kind: String): DataFrame =
        e.filter(col("event_type") === tpe)
          .select(col("event_id"), col("user_id"), lit(kind).as("kind"))
      branch("purchase", "purchase_doc")
        .unionByName(branch("signup", "account_doc"))
        .unionByName(branch("error", "error_doc"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, 'purchase_doc' AS kind FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT event_id, user_id, 'account_doc' AS kind FROM events WHERE event_type = 'signup'
      UNION ALL
      SELECT event_id, user_id, 'error_doc' AS kind FROM events WHERE event_type = 'error'
      ORDER BY event_id""")),

    // F9/SNK5: time-partition routing — counts per (year, month) partition
    // (reference handlers/comments.js:169-170; engine uses 1-based months,
    // delta documented in SURVEY §2.8 F9).
    ("q26_month_partition", (s: SparkSession, dir: String) => {
      Tables(s, dir).orders
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("y"), col("m"))
    }, Some("""
      SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS y,
             CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2 ORDER BY y, m""")),

    // F6: token filter/transform/join — the hashtag-extraction shape
    // (reference handlers/comments.js:93-96), pure built-in higher-order
    // functions, no UDF, fully codegen'd.
    ("q27_token_filter", (s: SparkSession, dir: String) => {
      Tables(s, dir).documents
        .select(col("doc_id"),
                array_join(filter(split(col("text"), " "), t => t.startsWith("s")), " ").as("s_tokens"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        COALESCE(array_to_string(list_filter(string_split(text, ' '), t -> t LIKE 's%'), ' '), '') AS s_tokens
      FROM documents ORDER BY doc_id""")),

    // J1/J2: existence semi-join on the stream itself — clicks by users who
    // ever purchased (reference handlers/votes.js:31-54 existence lookup).
    ("q28_exists_probe", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).events
      val purchasers = e.filter(col("event_type") === "purchase").select(col("user_id"))
      e.filter(col("event_type") === "click")
        .join(purchasers, Seq("user_id"), "left_semi")
        .select(col("event_id"), col("user_id"), col("ts"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, ts FROM events e
      WHERE event_type = 'click'
        AND EXISTS (SELECT 1 FROM events p
                    WHERE p.event_type = 'purchase' AND p.user_id = e.user_id)
      ORDER BY event_id""")),

    // J3/SNK2: muted-flag update join — broadcast left join writing a
    // boolean flag column (reference handle_mutings.js:36-57).
    ("q29_muted_flag", (s: SparkSession, dir: String) => {
      val t = Tables(s, dir)
      val muted = t.customer.filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("muted_key"))
      t.orders
        .join(broadcast(muted), col("o_custkey") === col("muted_key"), "left")
        .select(col("o_orderkey"), col("o_custkey"),
                (col("muted_key").isNotNull && (col("o_orderstatus") === "F")).as("muted_in_community"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_custkey,
             (m.muted_key IS NOT NULL AND o_orderstatus = 'F') AS muted_in_community
      FROM orders LEFT JOIN (SELECT c_custkey AS muted_key FROM customer
                             WHERE c_acctbal < 0) m
             ON o_custkey = m.muted_key
      ORDER BY o_orderkey""")),

    // ---- salted two-stage aggregation (skew path): must be value-equal
    // to the direct groupBy — the oracle IS the direct form.
    ("q43_salted_agg", (s: SparkSession, dir: String) => {
      // the salted value is integer micros of the DECIMAL(25,6) addend
      // (exact unscale), so both aggregation stages run on codegen'd
      // LONG buffers; the exact decimal total is reconstructed once per
      // key. Envelope: |micros| ≤ 5×10^7 here, so the long sum is exact
      // past 10^11 rows/key (ANSI fails loudly beyond).
      Salting.saltedCountSum(
        Tables(s, dir).lineitem
          .withColumn("__q", Relational.microsOf(col("l_quantity"))))
        .select(col("l_returnflag"), col("n"),
                round(Relational.microsTotal(col("total")).cast("double"), 6).as("total"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             round(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS total
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- ordered list aggregation: event-id sequences per user.
    // Sort happens on the native (ts, event_id) struct; only the final
    // projection joins to a string (driver hash can't sort array cols).
    ("q48_ordered_collect", (s: SparkSession, dir: String) => {
      Tables(s, dir).events
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id")))),
          e => e.getField("event_id").cast("string")), ",").as("event_seq"))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id,
        COALESCE(array_to_string(list(CAST(event_id AS VARCHAR) ORDER BY ts, event_id), ','), '') AS event_seq
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- time bucketing: hourly activity rollup ----
    ("q49_time_buckets", (s: SparkSession, dir: String) => {
      Tables(s, dir).events
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             round(Relational.dsumExact(col("value")).cast("double"), 6).as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    }, Some("""
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             round(CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- unpivot/melt: wide metrics to long form ----
    ("q44_unpivot", (s: SparkSession, dir: String) => {
      Tables(s, dir).lineitem
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
          values = Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
          variableColumnName = "metric", valueColumnName = "v")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("metric"), col("v"))
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, metric, v
      FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
            FROM lineitem WHERE l_orderkey <= 100)
      UNPIVOT (v FOR metric IN (l_extendedprice, l_discount, l_tax))
      ORDER BY l_orderkey, l_linenumber, l_quantity, metric, v"""))
  )
}
