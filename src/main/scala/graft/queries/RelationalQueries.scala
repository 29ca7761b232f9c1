package graft.queries

import graft.SparkEntry._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational queries: scans, scalar functions, joins, windows,
  * aggregations, set operations, generators, sketches, sessions, CDC
  * and layout.
  */
object RelationalQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_scan_filter_project", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1998-01-01'""".stripMargin)),

    QueryDef("q_regex_filter", (s, d) => {
      t(s, d, "documents")
        .filter(col("text").rlike("(fast|slow) (key|join)"))
        .select("doc_id", "lang")
    }, Sql(
      """SELECT doc_id, lang FROM documents
        |WHERE regexp_matches(text, '(fast|slow) (key|join)')""".stripMargin)),

    QueryDef("q_string_funcs", (s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        substring(col("p_name"), 1, 5).as("pre5"),
        regexp_replace(col("p_name"), " ", "_").as("slug"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        element_at(split(col("p_name"), " "), 1).as("first_word"))
    }, Sql(
      """SELECT p_partkey, upper(p_name) AS up_name,
        |  substring(p_name, 1, 5) AS pre5,
        |  regexp_replace(p_name, ' ', '_', 'g') AS slug,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  p_brand || ':' || p_type AS brand_type,
        |  split_part(p_name, ' ', 1) AS first_word
        |FROM part""".stripMargin)),

    QueryDef("q_date_funcs", (s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
    }, Sql(
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  CAST(day(o_orderdate) AS INTEGER) AS o_day,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
        |FROM orders""".stripMargin)),

    QueryDef("q_json_funcs", (s, d) => {
      events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    }, Sql(
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin)),

    QueryDef("q_semi_join", (s, d) => {
      val big = t(s, d, "lineitem").filter(col("l_quantity") > 45)
      t(s, d, "orders").join(big, col("o_orderkey") === col("l_orderkey"),
        "left_semi").select("o_orderkey")
    }, Sql(
      """SELECT o_orderkey FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)""".stripMargin)),

    QueryDef("q_anti_join", (s, d) => {
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    }, Sql(
      """SELECT c_custkey, c_mktsegment FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)),

    QueryDef("q_equi_join_agg", (s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
    }, Sql(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),

    QueryDef("q_contains_theta_join", (s, d) => {
      // J4: country-mention analogue — substring containment theta-join
      // against a broadcast dimension (the 100 TB-safe shape: BNLJ with a
      // tiny build side, one pass over the big table)
      val words = t(s, d, "documents").filter(col("doc_id") < 5)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "").distinct()
      t(s, d, "documents").join(broadcast(words),
        col("text").contains(col("word")))
        .groupBy("word").agg(count(lit(1)).as("n_docs"))
    }, Sql(
      """SELECT w.word, count(*) AS n_docs
        |FROM documents d
        |JOIN (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE doc_id < 5) w
        |  ON w.word <> '' AND contains(d.text, w.word)
        |GROUP BY w.word""".stripMargin)),

    QueryDef("q_theta_top1_per_key", (s, d) => {
      // L3: CALL { ... LIMIT 1 } per dimension row -> window top-1
      val words = t(s, d, "documents").filter(col("doc_id") < 5)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "").distinct()
      val pairs = t(s, d, "documents").join(broadcast(words),
        col("text").contains(col("word")))
      val w = Window.partitionBy("word").orderBy("doc_id")
      pairs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select("word", "doc_id")
    }, Sql(
      """SELECT w.word, min(d.doc_id) AS doc_id
        |FROM documents d
        |JOIN (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE doc_id < 5) w
        |  ON w.word <> '' AND contains(d.text, w.word)
        |GROUP BY w.word""".stripMargin)),

    QueryDef("q_fallback_join", (s, d) => {
      // J10/J5->J6 fallback chain: primary match, else fallback, else -1
      val sup = t(s, d, "supplier")
      val cust = t(s, d, "customer")
      val primary = cust.groupBy(col("c_nationkey").as("p_nationkey"))
        .agg(min(when(col("c_acctbal") > 5000, col("c_custkey")))
          .as("primary_custkey"))
      val fallback = cust.groupBy(col("c_nationkey").as("f_nationkey"))
        .agg(min(col("c_custkey")).as("fallback_custkey"))
      sup
        .join(broadcast(primary), col("s_nationkey") === col("p_nationkey"),
          "left_outer")
        .join(broadcast(fallback), col("s_nationkey") === col("f_nationkey"),
          "left_outer")
        .select(col("s_suppkey"),
          coalesce(col("primary_custkey"), col("fallback_custkey"), lit(-1L))
            .as("matched_custkey"),
          when(col("primary_custkey").isNotNull, "primary")
            .when(col("fallback_custkey").isNotNull, "fallback")
            .otherwise("none").as("matched_by"))
    }, Sql(
      """WITH primary_m AS (
        |  SELECT c_nationkey,
        |    min(CASE WHEN c_acctbal > 5000 THEN c_custkey END) AS primary_custkey
        |  FROM customer GROUP BY c_nationkey),
        |fallback_m AS (
        |  SELECT c_nationkey, min(c_custkey) AS fallback_custkey
        |  FROM customer GROUP BY c_nationkey)
        |SELECT s_suppkey,
        |  coalesce(p.primary_custkey, f.fallback_custkey, -1) AS matched_custkey,
        |  CASE WHEN p.primary_custkey IS NOT NULL THEN 'primary'
        |       WHEN f.fallback_custkey IS NOT NULL THEN 'fallback'
        |       ELSE 'none' END AS matched_by
        |FROM supplier
        |LEFT JOIN primary_m p ON s_nationkey = p.c_nationkey
        |LEFT JOIN fallback_m f ON s_nationkey = f.c_nationkey""".stripMargin)),

    QueryDef("q_window_top1", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders").withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }, Sql(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin)),

    QueryDef("q_window_running", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      events(s, d).select(
        col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("running_value"))
    }, Sql(
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id), 2)
        |    AS running_value
        |FROM events""".stripMargin)),

    QueryDef("q_window_rank_lag", (s, d) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      t(s, d, "supplier").select(
        col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
        dense_rank().over(w).as("bal_rank"),
        lag(col("s_acctbal"), 1).over(w).as("prev_bal"))
    }, Sql(
      """SELECT s_suppkey, s_nationkey, s_acctbal,
        |  CAST(dense_rank() OVER w AS INTEGER) AS bal_rank,
        |  lag(s_acctbal, 1) OVER w AS prev_bal
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey
        |  ORDER BY s_acctbal DESC, s_suppkey)""".stripMargin)),

    QueryDef("q_agg_basic", (s, d) => {
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          max(col("l_discount")).as("max_disc"),
          count(lit(1)).as("count_order"))
    }, Sql(
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  max(l_discount) AS max_disc, count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q_agg_conditional", (s, d) => {
      t(s, d, "orders").agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L)).as("n_p"),
        round(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))
          .otherwise(lit(0.0))), 2).as("f_totalprice"),
        sum(when(col("o_orderpriority").startsWith("1"), 1L)
          .otherwise(0L)).as("n_prio1"))
    }, Sql(
      """SELECT count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2)
        |    AS f_totalprice,
        |  CAST(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_prio1
        |FROM orders""".stripMargin)),

    QueryDef("q_dedup_exact", (s, d) => {
      // A3 duplicate detection == exact-dedup group census
      t(s, d, "documents").groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_id"))
    }, Sql(
      """SELECT md5(text) AS text_hash, count(*) AS n_docs,
        |  min(doc_id) AS first_id
        |FROM documents GROUP BY text""".stripMargin)),

    QueryDef("q_census", (s, d) => {
      t(s, d, "documents").groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
    }, Sql(
      """SELECT lang, source, count(*) AS n FROM documents
        |GROUP BY lang, source""".stripMargin)),

    QueryDef("q_orderby_limit", (s, d) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice").limit(20)
    }, Sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)),

    QueryDef("q_union_distinct", (s, d) => {
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_nationkey").as("nationkey"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    }, Sql(
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL SELECT s_nationkey FROM supplier)""".stripMargin)),

    QueryDef("q_except", (s, d) => {
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_nationkey").as("nationkey"))
        .except(t(s, d, "supplier").filter(col("s_acctbal") > 8000)
          .select(col("s_nationkey").as("nationkey")))
    }, Sql(
      """SELECT c_nationkey AS nationkey FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |EXCEPT SELECT s_nationkey FROM supplier
        |WHERE s_acctbal > 8000""".stripMargin)),

    QueryDef("q_explode_wordcount", (s, d) => {
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 50)
    }, Sql(
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word HAVING count(*) >= 50""".stripMargin)),

    QueryDef("q_posexplode", (s, d) => {
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    }, Sql(
      """SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos, u.word FROM (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id < 20) t,
        |LATERAL (SELECT unnest(ws) AS word,
        |  unnest(generate_series(1, len(ws))) AS i) u""".stripMargin)),

    QueryDef("q_asof_join", (s, d) => {
      // point-in-time join: every click decorated with the latest prior
      // view's value per user (union + ordered window — one shuffle, no
      // range fan-out; see ops.AsOfJoin)
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(round(max(col("value")), 2).as("view_value"))
      graft.ops.AsOfJoin.asofLeft(clicks, views, Seq("user_id"), "ts",
        Seq("view_value"))
        .select("event_id", "user_id", "asof_ts", "asof_view_value")
    }, Sql(
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, round(max(value), 2) AS view_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |  CAST(r.ts AS TIMESTAMP) AS asof_ts,
        |  r.view_value AS asof_view_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin)),

    QueryDef("q_asof_tolerance", (s, d) => {
      // bounded-lookback as-of (the feature-store staleness rule): same
      // join as q_asof_join but matches older than 30 minutes are nulled
      // out — tolerance is a post-window filter, the plan is unchanged
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(round(max(col("value")), 2).as("view_value"))
      graft.ops.AsOfJoin.asofLeft(clicks, views, Seq("user_id"), "ts",
        Seq("view_value"), tolerance = Some(30L * 60 * 1000000)) // 30 min in micros
        .select("event_id", "user_id", "asof_ts", "asof_view_value")
    }, Sql(
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, round(max(value), 2) AS view_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |m AS (
        |  SELECT l.event_id, l.user_id, l.ts AS lts, r.ts AS rts,
        |    r.view_value
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND r.ts <= l.ts)
        |SELECT event_id, user_id,
        |  CASE WHEN rts IS NOT NULL
        |    AND date_diff('microsecond', rts, lts) <= 1800000000
        |    THEN CAST(rts AS TIMESTAMP) END AS asof_ts,
        |  CASE WHEN rts IS NOT NULL
        |    AND date_diff('microsecond', rts, lts) <= 1800000000
        |    THEN view_value END AS asof_view_value
        |FROM m""".stripMargin)),

    QueryDef("q_range_join", (s, d) => {
      // interval join as a binned equi-join (ops.RangeJoin): every click
      // inside a 30-minute attribution window opened by a view of the same
      // user. Bin width = window length, so each interval fans out to at
      // most 2 bins and the join is a plain hash equi-join on
      // (user_id, bin) — no nested loop at any scale.
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("win_end"))
      graft.ops.RangeJoin.pointInInterval(clicks, views, Seq("user_id"),
        "ts", "win_start", "win_end", binWidth = 30L * 60 * 1000 * 1000)
        .select("click_id", "view_id", "user_id")
    }, Sql(
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |             CAST(ts AS TIMESTAMP) AS cts
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id,
        |        CAST(ts AS TIMESTAMP) AS win_start,
        |        CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS win_end
        |      FROM events WHERE event_type = 'view')
        |SELECT c.click_id, v.view_id, c.user_id
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND c.cts >= v.win_start AND c.cts <= v.win_end""".stripMargin)),

    QueryDef("q_interval_overlap", (s, d) => {
      // two-sided interval join, dedup-free first-shared-bin discipline:
      // 4h view windows x 1h click windows per user; bin = 4h so each
      // interval fans to <= 2 bins and every overlapping pair survives the
      // post-filter exactly once
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("v_start"),
          (col("ts") + expr("INTERVAL 4 HOURS")).as("v_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id"),
          col("ts").as("c_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("c_end"))
      graft.ops.RangeJoin.intervalOverlap(views, clicks, Seq("user_id"),
        "v_start", "v_end", "c_start", "c_end",
        binWidth = 4L * 3600 * 1000 * 1000)
        .select("view_id", "click_id", "user_id",
          "overlap_start", "overlap_end")
    }, Sql(
      """WITH v AS (SELECT event_id AS view_id, user_id,
        |        CAST(ts AS TIMESTAMP) AS v_start,
        |        CAST(ts AS TIMESTAMP) + INTERVAL 4 HOUR AS v_end
        |      FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id AS click_id, user_id AS cu,
        |        CAST(ts AS TIMESTAMP) AS c_start,
        |        CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS c_end
        |      FROM events WHERE event_type = 'click')
        |SELECT v.view_id, c.click_id, v.user_id,
        |  epoch_us(greatest(v.v_start, c.c_start)) AS overlap_start,
        |  epoch_us(least(v.v_end, c.c_end)) AS overlap_end
        |FROM v JOIN c ON v.user_id = c.cu
        |  AND v.v_start <= c.c_end AND c.c_start <= v.v_end""".stripMargin)),

    QueryDef("q_heavy_hitters", (s, d) => {
      // exact top-k heavy hitters per group (ops.Sketches): two-stage agg,
      // deterministic tie-break — the exact sibling of the sketch path
      val li = t(s, d, "lineitem")
      graft.ops.Sketches.heavyHitters(li, Seq("l_returnflag"), "l_partkey",
        k = 3)
        .select(col("l_returnflag"), col("l_partkey"), col("n"), col("rank"))
    }, Sql(
      """SELECT l_returnflag, l_partkey, n, CAST(rank AS INTEGER) AS rank
        |FROM (
        |  SELECT l_returnflag, l_partkey, count(*) AS n,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_partkey) AS rank
        |  FROM lineitem GROUP BY 1, 2)
        |WHERE rank <= 3""".stripMargin)),

    QueryDef("q_sketch_quantiles", (s, d) => {
      // per-group quantiles; accuracy (100k) exceeds every group's row
      // count through sf0.5, so the GK summary is exact at any verify
      // scale and the DuckDB quantile_disc oracle matches hash-exactly
      // (percentile_approx returns an actual element, i.e. the discrete
      // quantile)
      val ev = events(s, d)
      graft.ops.Sketches.approxQuantiles(ev, Seq("event_type"), "value",
        probs = Seq(0.25, 0.5, 0.75, 0.95), accuracy = 100000)
        .select(col("event_type"),
          round(element_at(col("quantiles"), 1), 6).as("q25"),
          round(element_at(col("quantiles"), 2), 6).as("q50"),
          round(element_at(col("quantiles"), 3), 6).as("q75"),
          round(element_at(col("quantiles"), 4), 6).as("q95"))
    }, Sql(
      """SELECT event_type,
        |  round(quantile_disc(value, 0.25), 6) AS q25,
        |  round(quantile_disc(value, 0.50), 6) AS q50,
        |  round(quantile_disc(value, 0.75), 6) AS q75,
        |  round(quantile_disc(value, 0.95), 6) AS q95
        |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("q_sessionize", (s, d) => {
      // batch sessionization (ops.Sessions): gap>30min splits sessions;
      // boundary-flag -> prefix-sum over ONE per-key sort, then per-session
      // rollup — the backfill twin of the streaming mapGroupsWithState path
      val ev = events(s, d).select("user_id", "ts")
      val sess = graft.ops.Sessions.sessionize(ev, Seq("user_id"), "ts",
        gapSeconds = 1800)
      graft.ops.Sessions.sessionStats(sess, Seq("user_id"), "ts")
        .select(col("user_id"), col("session_index"), col("session_start"),
          col("session_end"), col("duration_us"), col("n_events"))
    }, Sql(
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |          THEN 1 ELSE 0 END AS boundary
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_index
        |      FROM b)
        |SELECT user_id, session_index,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
        |  count(*) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin)),

    QueryDef("q_pivot", (s, d) => {
      // pivot with EXPLICIT values: one aggregation pass, no extra
      // distinct-scan to discover columns (the implicit-values form runs a
      // collect at plan time — never at 100 TB)
      events(s, d).groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
    }, Sql(
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("q_rollup", (s, d) => {
      // hierarchical totals in one pass: ROLLUP expands to the grouping-set
      // lattice inside a single aggregation (partial-agg friendly), not a
      // self-union of three scans
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("revenue"),
          grouping_id().cast("int").as("gid"))
    }, Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    QueryDef("q_tumbling_window", (s, d) => {
      events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    }, Sql(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    QueryDef("q_sketch_distinct", (s, d) => {
      // sketched distinct via the partial-sketch -> merge path, in the
      // KMV EXACT-BELOW-K regime (ops.Sketches.kmvPartials/kmvMerge):
      // per-(type, day) bottom-k sketches of the 60-bit md5 key lattice,
      // merged per type with k = 4096 > NDV at gate SFs, so the sketch
      // holds every distinct hash and every published field is an
      // integer. The oracle replays the bottom-k CONSTRUCTION itself
      // (row_number <= k over the hash order + the HUGEINT estimator),
      // so it stays hash-exact in every regime — including the
      // NDV == k boundary, where the op answers with the estimator.
      // The same code path at k < NDV is the Beyer et al. estimator
      // (spec-pinned, Round9bOpsSpec); HLL (hllPartials/hllMerge) stays
      // the at-scale default when NDV >> k — sketch-defined floats, so
      // it keeps unit-level merge-losslessness coverage instead of a
      // cross-engine gate.
      val ev = events(s, d)
        .withColumn("day", to_date(col("ts")))
      val partials = graft.ops.Sketches.kmvPartials(ev,
        Seq("event_type"), "day", "user_id", k = 4096)
      graft.ops.Sketches.kmvMerge(partials, Seq("event_type"), k = 4096)
    }, Sql(
      // exact-below-k KMV regime: with k = 4096 >= NDV the bottom-k sketch
      // holds EVERY distinct 60-bit hash, so k_eff = distinct hash count,
      // kth_hash60 = the max hash, approx_distinct = the exact count —
      // all engine-replayable integers (distinct-by-hash on both sides,
      // so even a 60-bit collision could not diverge op from oracle)
      // replays the bottom-k SKETCH itself (row_number <= k over the hash
      // order), so the oracle is total: exact regime (NDV < k), the
      // NDV == k boundary, and the estimator regime all hash-match —
      // estimator as HUGEINT floor-div, kth == 0 guarded like the op
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |b AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
        |  FROM h)
        |SELECT event_type, CAST(count(*) AS INTEGER) AS k_eff,
        |  max(h) AS kth_hash60,
        |  CASE WHEN count(*) < 4096 OR max(h) = 0
        |       THEN CAST(count(*) AS BIGINT)
        |       ELSE CAST(CAST(4095 AS HUGEINT)
        |         * CAST(1152921504606846976 AS HUGEINT)
        |         // CAST(max(h) AS HUGEINT) AS BIGINT)
        |  END AS approx_distinct
        |FROM b WHERE r <= 4096
        |GROUP BY event_type""".stripMargin),
      discontinuity = Some("r9: KMV exact-below-k swapped in for HLL")),

    QueryDef("q_kmv_sample", (s, d) => {
      // deterministic k-minimum-values sample per group: a mergeable
      // TypedImperativeAggregate holding <= k entries per buffer (map-side
      // partials shuffle k rows per partition-group, not the group's row
      // set) — vs the oracle's full window sort over every row
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(graft.functions.KmvSample.kmv_sample(col("c_name"), 5).as("s"))
        .select(col("c_mktsegment"), explode(col("s")).as("e"))
        .select(col("c_mktsegment"), col("e.item").as("item"),
          col("e.priority").as("priority"))
    }, Sql(
      // same sample by construction: k smallest md5 priorities per group
      // over distinct values (md5 collisions would be the only tie source)
      """WITH d AS (SELECT DISTINCT c_mktsegment, c_name FROM customer),
        |r AS (SELECT c_mktsegment, c_name, md5(c_name) AS priority,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY md5(c_name)) AS rn
        |  FROM d)
        |SELECT c_mktsegment, c_name AS item, priority
        |FROM r WHERE rn <= 5""".stripMargin)),

    QueryDef("q_skew_join_salted", (s, d) => {
      // salted equi-join (ops.Joins.saltedJoin): the fact side's hot keys
      // spread over 16 sub-keys, the dim replicated 16x, join on
      // (key, salt). The salt cancels in the aggregation, so the oracle is
      // the PLAIN join — proving the skew lever is results-invisible.
      val li = t(s, d, "lineitem").select("l_suppkey", "l_extendedprice")
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.ops.Joins.saltedJoin(li, sup, "l_suppkey", salts = 16)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    }, Sql(
      // oracle is the PLAIN join: the salt must be results-invisible
      """SELECT s_nationkey, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin)),

    QueryDef("q_cube", (s, d) => {
      // full grouping-set lattice in ONE aggregation pass (cube = 4 sets
      // here); like q_rollup, expands inside the agg — no self-union of
      // scans, partial-agg friendly
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          grouping_id().cast("int").as("gid"))
    }, Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    QueryDef("q_sliding_window", (s, d) => {
      // hopping windows: 10-min width, 5-min slide — each event lands in
      // exactly width/slide = 2 epoch-aligned windows. The fan-out happens
      // inside the window() generator pre-shuffle; state stays bounded by
      // (windows x event_type), the streaming-compatible shape.
      events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"),
          col("event_type"), col("n_events"), col("sum_value"))
    }, Sql(
      // each event belongs to exactly 2 epoch-aligned hopping windows:
      // its own 5-min grid cell's window and the one starting 5 min earlier
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |           FROM events),
        |x AS (SELECT event_type, value,
        |        unnest([to_timestamp(floor(epoch(ts) / 300) * 300),
        |                to_timestamp(floor(epoch(ts) / 300) * 300)
        |                  - INTERVAL 5 MINUTE]) AS w0
        |      FROM e)
        |SELECT CAST(w0 AS TIMESTAMP) AS w_start,
        |  CAST(w0 + INTERVAL 10 MINUTE AS TIMESTAMP) AS w_end,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM x GROUP BY 1, 2, 3""".stripMargin)),

    QueryDef("q_asof_forward", (s, d) => {
      // forward point-in-time join: every view decorated with the NEXT
      // purchase at-or-after it per user (time-to-next-action features);
      // same one-shuffle union+window as q_asof_join, frame flipped
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(round(max(col("value")), 2).as("purchase_value"))
      graft.ops.AsOfJoin.asofLeftForward(views, purchases, Seq("user_id"),
        "ts", Seq("purchase_value"))
        .select("event_id", "user_id", "asof_ts", "asof_purchase_value")
    }, Sql(
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |r AS (SELECT user_id, ts, round(max(value), 2) AS purchase_value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |  CAST(r.ts AS TIMESTAMP) AS asof_ts,
        |  r.purchase_value AS asof_purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.ts >= l.ts""".stripMargin)),

    QueryDef("q_unpivot", (s, d) => {
      // wide->long reshape (melt): 4 measure columns to (metric, val)
      // rows. Expand-style fan-out, no shuffle — the inverse of q_pivot.
      t(s, d, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
    }, Sql(
      // UNION ALL rather than engine UNPIVOT syntax: identical semantics,
      // no dialect divergence in metric-name casing or column ordering
      """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 1000)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |       l_quantity AS val FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src""".stripMargin)),

    QueryDef("q_median", (s, d) => {
      // exact interpolated percentiles per group (percentile = SQL
      // percentile_cont): the small-group exact path; the GK-sketch
      // sibling (q_sketch_quantiles) is the mergeable at-scale path
      events(s, d).groupBy("event_type")
        .agg(round(percentile(col("value"), lit(0.5)), 6).as("median_value"),
          round(percentile(col("value"), lit(0.9)), 6).as("p90_value"))
    }, Sql(
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS median_value,
        |  round(quantile_cont(value, 0.9), 6) AS p90_value
        |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("q_string_agg", (s, d) => {
      // ordered string aggregation (listagg): deterministic via
      // sort-inside-the-buffer, not a window; group-sized memory by nature
      t(s, d, "supplier").groupBy("s_nationkey")
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",")
          .as("names"),
          count(lit(1)).as("n"))
    }, Sql(
      """SELECT s_nationkey,
        |  string_agg(s_name, ',' ORDER BY s_name) AS names,
        |  count(*) AS n
        |FROM supplier GROUP BY 1""".stripMargin)),

    QueryDef("q_full_outer", (s, d) => {
      // full-outer reconciliation: per-user view activity vs purchase
      // activity, keeping users present on either side only (the audit
      // shape: who browses but never buys, who buys without browsing)
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(count(lit(1)).as("n_views"))
      val buys = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value")), 2).as("purchase_total"))
      views.join(buys, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_views"), lit(0L)).as("n_views"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          col("purchase_total"))
    }, Sql(
      """WITH v AS (SELECT user_id, count(*) AS n_views FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT user_id, count(*) AS n_purchases,
        |        round(sum(value), 2) AS purchase_total
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT coalesce(v.user_id, b.user_id) AS user_id,
        |  coalesce(n_views, 0) AS n_views,
        |  coalesce(n_purchases, 0) AS n_purchases,
        |  purchase_total
        |FROM v FULL OUTER JOIN b ON v.user_id = b.user_id""".stripMargin)),

    QueryDef("q_bloom_pruned_join", (s, d) => {
      // runtime row-level filtering as an explicit operator
      // (ops.Joins.bloomPrunedJoin): the filtered part dimension's keys
      // fold into a Bloom filter (scalar subquery), lineitem is pruned
      // BEFORE its shuffle, and the real join afterwards keeps the result
      // exactly equal to the plain join — which is the oracle.
      val dim = t(s, d, "part").filter(col("p_size") === 1)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      val fact = t(s, d, "lineitem").select("l_partkey", "l_quantity")
      graft.ops.Joins.bloomPrunedJoin(fact, dim, "l_partkey",
        expectedItems = 10000L)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    }, Sql(
      // bloom pruning is semantics-preserving (false positives die in the
      // real join), so the oracle is the undecorated join itself
      """SELECT p.p_brand, count(*) AS n_items,
        |  round(sum(l.l_quantity), 2) AS sum_qty
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size = 1 GROUP BY 1""".stripMargin)),

    QueryDef("q_approx_topk", (s, d) => {
      // Misra-Gries mergeable approx top-k (custom TypedImperativeAggregate,
      // ops.Sketches.approxTopK). Capacity is DERIVED from the data so
      // capacity > |distinct partkeys per flag| holds at ANY sf the driver
      // runs, counts stay provably exact, and the exact two-stage top-k
      // oracle remains valid; the approximate regime's N/capacity error
      // bound is property-tested in FreqSketchSpec. The bound is
      // max(l_partkey)+1 — partkeys are positive ints, so their distinct
      // count can't exceed their max — a plain partial-agg max() pre-pass
      // (the previous countDistinct derivation paid a full Expand shuffle
      // for the same guarantee)
      val li = par(s, t(s, d, "lineitem"))
      val cap = li.agg(max(col("l_partkey"))).head().getLong(0).toInt + 1
      val src = li
        .select(col("l_returnflag"), col("l_partkey").cast("string").as("pk"))
      graft.ops.Sketches.approxTopK(src, Seq("l_returnflag"), "pk", k = 3,
        capacity = math.max(cap, 64))
    }, Sql(
      // capacity >= |distinct items per group| at verify scale => MG counts
      // are provably exact, so the oracle is the exact two-stage top-k
      // (string tie-break on the stringified key, mirrored in eval())
      """SELECT l_returnflag, item, est_count, CAST(rank AS INTEGER) AS rank
        |FROM (
        |  SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS item,
        |    count(*) AS est_count,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, CAST(l_partkey AS VARCHAR)) AS rank
        |  FROM lineitem GROUP BY 1, 2)
        |WHERE rank <= 3""".stripMargin)),

    QueryDef("q_scd2", (s, d) => {
      // SCD2 history from a change log (ops.Cdc.scd2): each purchase
      // version gets [valid_from, valid_to) + is_current via one lead
      // window per user — the O(n) form of the naive range self-join
      val log = events(s, d).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      graft.ops.Cdc.scd2(log, Seq("user_id"), "ts", "event_id")
        .select("event_id", "user_id", "valid_from", "valid_to",
          "is_current")
    }, Sql(
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS valid_from,
        |  lead(CAST(ts AS TIMESTAMP)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL) AS is_current
        |FROM events WHERE event_type = 'purchase'""".stripMargin)),

    QueryDef("q_snapshot_at", (s, d) => {
      // point-in-time snapshot (ops.Cdc.snapshotAt): each user's latest
      // event as of Jan 15, with 'error'-typed latest rows treated as
      // tombstones — the filter prunes the log BEFORE the window shuffle
      graft.ops.Cdc.snapshotAt(
        events(s, d).select("event_id", "user_id", "ts", "event_type"),
        Seq("user_id"), "ts", "event_id",
        asOf = lit("2024-01-15 00:00:00").cast("timestamp"),
        isDelete = col("event_type") === "error")
        .select("user_id", "event_id", "event_type", "ts")
    }, Sql(
      """SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |FROM (SELECT user_id, event_id, event_type, ts,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    QueryDef("q_snapshot_diff", (s, d) => {
      // corpus version diff (ops.Cdc.snapshotDiff): old = docs minus the
      // %7 ids, new = docs minus the %11 ids with %5 texts appended-to
      // and %13 sources rewritten — every status class is planted; one
      // full-outer equi-join, null-safe per-column compare
      val docs = t(s, d, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .select("doc_id", "text", "source")
      val neu = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          when(col("doc_id") % 13 === 0, lit("mirror"))
            .otherwise(col("source")).as("source"))
      graft.ops.Cdc.snapshotDiff(old, neu, Seq("doc_id"),
        Seq("text", "source"))
    }, Sql(
      """WITH o AS (SELECT doc_id, text, source FROM documents
        |           WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
        |      AS text,
        |    CASE WHEN doc_id % 13 = 0 THEN 'mirror' ELSE source END
        |      AS source
        |  FROM documents WHERE doc_id % 11 <> 0)
        |SELECT * FROM (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN NOT (o.text IS NOT DISTINCT FROM n.text)
        |           OR NOT (o.source IS NOT DISTINCT FROM n.source)
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS status,
        |    CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
        |           AND (NOT (o.text IS NOT DISTINCT FROM n.text)
        |             OR NOT (o.source IS NOT DISTINCT FROM n.source))
        |      THEN ltrim(
        |        (CASE WHEN NOT (o.text IS NOT DISTINCT FROM n.text)
        |          THEN ',text' ELSE '' END) ||
        |        (CASE WHEN NOT (o.source IS NOT DISTINCT FROM n.source)
        |          THEN ',source' ELSE '' END), ',')
        |      ELSE '' END AS changed_cols
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) d
        |WHERE status <> 'unchanged'""".stripMargin)),

    QueryDef("q_merge_into", (s, d) => {
      // MERGE INTO (ops.Cdc.mergeInto): the %3 batch upserts into the
      // %7-gapped target with %9 rows as deletions — matched rows
      // replaced, new rows appended, deleted rows dropped; one left-anti
      // equi-join + union, no window, no full outer
      val docs = t(s, d, "documents")
      val target = docs.filter(col("doc_id") % 7 =!= 0)
        .select("doc_id", "text", "source")
      val source = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          col("source"))
      graft.ops.Cdc.mergeInto(target, source, Seq("doc_id"),
        isDelete = col("doc_id") % 9 === 0)
    }, Sql(
      """WITH tgt AS (SELECT doc_id, text, source FROM documents
        |             WHERE doc_id % 7 <> 0),
        |src AS (SELECT doc_id, text || ' v2' AS text, source
        |        FROM documents WHERE doc_id % 3 = 0)
        |SELECT * FROM tgt
        |WHERE doc_id NOT IN (SELECT doc_id FROM src)
        |UNION ALL
        |SELECT * FROM src WHERE doc_id % 9 <> 0""".stripMargin)),

    QueryDef("q_overlap_estimate", (s, d) => {
      // KMV bottom-k corpus-overlap sketch (ops.Sketches
      // .overlapEstimate, Beyer et al. 2007): two overlapping document
      // subsets reduce to 60-bit md5 hash sets; the k smallest union
      // hashes carry per-side membership — all-integer output, the
      // oracle replays the exact sketch
      val docs = par(s, t(s, d, "documents"))
      graft.ops.Sketches.overlapEstimate(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 2 === 0), "text", k = 64)
    }, Sql(
      // the exact bottom-64 union sketch replayed: 60-bit md5 hashes,
      // full-outer membership merge, k-row head, integer aggregates
      """WITH a AS (SELECT DISTINCT
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 3 <> 0),
        |b AS (SELECT DISTINCT
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
        |u AS (SELECT coalesce(a.h, b.h) AS h,
        |    CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS ina,
        |    CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS inb
        |  FROM a FULL OUTER JOIN b ON a.h = b.h),
        |k AS (SELECT * FROM u ORDER BY h LIMIT 64)
        |SELECT CAST(count(*) AS BIGINT) AS k_eff,
        |  CAST(coalesce(sum(ina * inb), 0) AS BIGINT) AS n_both,
        |  CAST(coalesce(sum(ina), 0) AS BIGINT) AS n_a,
        |  CAST(coalesce(sum(inb), 0) AS BIGINT) AS n_b,
        |  CAST(coalesce(max(h), 0) AS BIGINT) AS kth_hash60
        |FROM k""".stripMargin)),

    QueryDef("q_zorder_key", (s, d) => {
      // Morton interleave key (ops.Layout.zorderKey): 8-bit uniform
      // buckets over two integer dims on power-of-two bounds (exact
      // double arithmetic in both engines), bits interleaved
      // round-robin — the layout key behind writeZordered's
      // range-repartition, surfaced so the key itself is oracled
      t(s, d, "events").select(col("event_id"), col("user_id"),
        graft.ops.Layout.zorderKey(
          Seq((col("user_id"), 0.0, 256.0),
            (col("event_id"), 0.0, 65536.0)), bits = 8).as("z"))
    }, Sql(
      // 8-bit ordinals on [0, 65536) (width 256 = power of two: the
      // bucket arithmetic is exact in double on both engines), clamped,
      // bits interleaved user_id -> even positions, event_id -> odd
      """WITH o AS (SELECT event_id, user_id,
        |  least(greatest(CAST(floor(256 * CAST(user_id AS DOUBLE)
        |    / 256) AS BIGINT), 0), 255) AS ua,
        |  least(greatest(CAST(floor(256 * CAST(event_id AS DOUBLE)
        |    / 65536) AS BIGINT), 0), 255) AS ea
        |  FROM events)
        |SELECT event_id, user_id,
        |  (((ua >> 0) & 1) << 0) + (((ea >> 0) & 1) << 1)
        |  + (((ua >> 1) & 1) << 2) + (((ea >> 1) & 1) << 3)
        |  + (((ua >> 2) & 1) << 4) + (((ea >> 2) & 1) << 5)
        |  + (((ua >> 3) & 1) << 6) + (((ea >> 3) & 1) << 7)
        |  + (((ua >> 4) & 1) << 8) + (((ea >> 4) & 1) << 9)
        |  + (((ua >> 5) & 1) << 10) + (((ea >> 5) & 1) << 11)
        |  + (((ua >> 6) & 1) << 12) + (((ea >> 6) & 1) << 13)
        |  + (((ua >> 7) & 1) << 14) + (((ea >> 7) & 1) << 15) AS z
        |FROM o""".stripMargin)),

    QueryDef("q_funnel", (s, d) => {
      // earliest-anchored funnel (ops.Sessions.funnel): view -> click
      // -> purchase within 1 day of the anchor; per-step filtered
      // aggregations chained on the user key, no per-user event
      // buffering — semantics stated in the scaladoc ARE the contract,
      // replicated step-for-step by the oracle CTEs
      graft.ops.Sessions.funnel(t(s, d, "events"),
        Seq("view", "click", "purchase"), withinSeconds = 86400L)
    }, Sql(
      // step-for-step replica of the earliest-anchored definition: each
      // CTE narrows to (first event of step i >= t_{i-1}, <= anchor+window)
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |a1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |a2 AS (SELECT e.user_id, a1.t1, min(e.ts) AS t2
        |  FROM e JOIN a1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= a1.t1
        |    AND e.ts <= a1.t1 + INTERVAL 86400 SECOND
        |  GROUP BY 1, 2),
        |a3 AS (SELECT e.user_id, a2.t1, a2.t2, min(e.ts) AS t3
        |  FROM e JOIN a2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= a2.t2
        |    AND e.ts <= a2.t1 + INTERVAL 86400 SECOND
        |  GROUP BY 1, 2, 3)
        |SELECT a1.user_id, a1.t1, a2.t2, a3.t3,
        |  CAST(CASE WHEN a3.t3 IS NOT NULL THEN 3
        |    WHEN a2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS stage
        |FROM a1 LEFT JOIN a2 USING (user_id)
        |  LEFT JOIN a3 USING (user_id)""".stripMargin)),

    QueryDef("q_funnel_sliding", (s, d) => {
      // sliding-anchor funnel (ops.Sessions.funnelSliding — ClickHouse
      // windowFunnel's greedy mode): max depth over ALL view anchors,
      // one shuffle + O(k)-state pass per user with the cap-and-raise
      // buffer guard. EXACT oracle: each level's anchor is a running
      // MAX of the previous level's window-valid candidates over the
      // (ts, step) total order, so the whole recurrence is k-1 chained
      // window layers in SQL; Round8OpsSpec pins goldens, per-user
      // dominance over q_funnel's earliest-anchored stage, and a
      // planted stream where sliding reaches strictly deeper.
      graft.ops.Sessions.funnelSliding(events(s, d),
        Seq("view", "click", "purchase"), withinSeconds = 86400L)
    }, Sql(
      // windowFunnel's greedy recurrence as chained running-max layers:
      // r0 = running max of view timestamps, c1/c2 = window-valid
      // previous-level anchors at click/purchase rows, a_s = per-user max
      // candidate; depth = deepest non-null level, anchor = its value.
      // The (tus, s) ROWS order makes equal-timestamp events chain in
      // step order exactly like the op's sort
      """WITH e AS (SELECT CAST(user_id AS BIGINT) AS u,
        |    epoch_ns(ts) // 1000 AS tus,
        |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
        |      ELSE 2 END AS s
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |l0 AS (SELECT u, tus, s,
        |    max(CASE WHEN s = 0 THEN tus END) OVER (PARTITION BY u
        |      ORDER BY tus, s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r0
        |  FROM e),
        |l1 AS (SELECT u, tus, s, c1,
        |    max(c1) OVER (PARTITION BY u ORDER BY tus, s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
        |  FROM (SELECT *, CASE WHEN s = 1 AND r0 IS NOT NULL
        |      AND tus - r0 <= 86400000000 THEN r0 END AS c1 FROM l0) x),
        |l2 AS (SELECT u, tus, s, c1,
        |    CASE WHEN s = 2 AND r1 IS NOT NULL
        |      AND tus - r1 <= 86400000000 THEN r1 END AS c2
        |  FROM l1),
        |agg AS (SELECT u,
        |    max(CASE WHEN s = 0 THEN tus END) AS a0,
        |    max(c1) AS a1, max(c2) AS a2
        |  FROM l2 GROUP BY 1)
        |SELECT u AS user_id,
        |  CAST(CASE WHEN a2 IS NOT NULL THEN 3
        |    WHEN a1 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS stage,
        |  coalesce(a2, a1, a0) AS anchor_us
        |FROM agg WHERE a0 IS NOT NULL""".stripMargin)),

    QueryDef("q_retention", (s, d) => {
      // weekly cohort retention triangle (ops.Sessions.retention):
      // ISO-Monday week truncation aligns cohort and activity weeks in
      // both engines, so the day delta is always a multiple of 7
      graft.ops.Sessions.retention(t(s, d, "events"))
    }, Sql(
      """WITH b AS (SELECT user_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM b GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w FROM b)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, w) / 7 AS INTEGER)
        |    AS offset_weeks,
        |  count(DISTINCT user_id) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin)),

    QueryDef("q_event_transitions", (s, d) => {
      // first-order Markov transition counts (ops.Sessions
      // .eventTransitions): per-user lead over a TOTAL sort key
      // (ts, type, event_id) so colliding timestamps still produce one
      // deterministic sequence in both engines
      graft.ops.Sessions.eventTransitions(t(s, d, "events"))
    }, Sql(
      // lead over the same TOTAL (ts, type, event_id) order
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |s AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_type, event_id) AS next_type
        |  FROM e)
        |SELECT event_type, next_type, count(*) AS n
        |FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin))
  )
}
