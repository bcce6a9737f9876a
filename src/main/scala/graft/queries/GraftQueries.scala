package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.AnnOps
import graft.dedup.DedupOps
import graft.functions.GeoFunctions._
import graft.plans.Boundary
import graft.text.TextOps

/** The driver-facing query catalog: one entry per operator family from
  * SURVEY.md §2 plus the training-data-pipeline ops. Every SQL-expressible
  * query has a DuckDB oracle whose arithmetic is formula-identical to the
  * Spark plan (same literals, same operation order); kernel queries
  * (matching, overlay) ship without oracle -> rows-only check.
  *
  * Conventions for oracle parity:
  *  - integer outputs CAST to BIGINT in SQL / .cast("long") in Spark;
  *  - double aggregates rounded to a fixed number of decimals on BOTH sides;
  *  - derived geo points use pure integer-arithmetic formulas;
  *  - cell ids use the documented integer encoding (SURVEY: graft.geo.Cell).
  */
object GraftQueries {
  type Q = (SparkSession, String) => DataFrame
  private def q(f: Q, sql: String): (Q, String) = (f, sql)

  private def read(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** Final presentation sort behind a materialization boundary: orderBy
    * plans a RangePartitioning exchange whose partition bounds come from
    * SAMPLING THE CHILD — and a child with no shuffle/materialization
    * boundary below it is executed twice, once for the sample pass and
    * once for the sort's own shuffle (measured ~2x wall on the
    * scan-rooted catalog queries; same-session A/B on q_dist_join:
    * plain orderBy 0.87 s, round-robin-repartition-then-sort 0.75, this
    * form 0.63). The lazy boundary materializes the (small, final) result
    * on the sampling pass and the sort reads the blocks back. A boundary,
    * NOT Dataset.cache: a cache() here would register in the CacheManager
    * keyed by the logical plan and silently REUSE results across bench
    * reps. */
  private def sortedBy(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    Boundary.lazily(df).orderBy(cols: _*)

  // ---- derived deterministic geo points (same formula in SQL) ----
  // Multiplicative scatter over lat [-45, 45), lon [-90, 90): dense,
  // pseudo-uniform, 0.01-degree granularity — every spatial join below
  // returns hundreds of rows at sf0.01 (r1's modular grids never
  // coincided, so the joins passed trivially on 0 rows). The +/-45 cap
  // also bounds the k-ring arithmetic away from poles.
  private def custPoints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    read(s, dir, "customer")
      .withColumn("lat", ($"c_custkey" * 13 % 9000).cast("double") / 100.0 - 45.0)
      .withColumn("lon", ($"c_custkey" * 31 % 18000).cast("double") / 100.0 - 90.0)
  }
  private val custPointsSql =
    """SELECT c_custkey,
      |  CAST(c_custkey * 13 % 9000 AS DOUBLE) / 100.0 - 45.0 AS lat,
      |  CAST(c_custkey * 31 % 18000 AS DOUBLE) / 100.0 - 90.0 AS lon
      |FROM customer""".stripMargin
  private def suppPoints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    read(s, dir, "supplier")
      .withColumn("lat", ($"s_suppkey" * 17 % 9000).cast("double") / 100.0 - 45.0)
      .withColumn("lon", ($"s_suppkey" * 41 % 18000).cast("double") / 100.0 - 90.0)
  }
  private val suppPointsSql =
    """SELECT s_suppkey,
      |  CAST(s_suppkey * 17 % 9000 AS DOUBLE) / 100.0 - 45.0 AS lat,
      |  CAST(s_suppkey * 41 % 18000 AS DOUBLE) / 100.0 - 90.0 AS lon
      |FROM supplier""".stripMargin

  /** SQL gcell formula at res 12 (cellDeg = 90/4096 exactly representable). */
  private def sqlCell(latE: String, lonE: String): String =
    s"(CAST(12 AS BIGINT) * 288230376151711744) + " +
      s"(CAST(floor(($latE + 90.0) / 0.02197265625) AS BIGINT) * 536870912) + " +
      s"CAST(floor(($lonE + 180.0) / 0.02197265625) AS BIGINT)"
  // 288230376151711744 = 2^58, 536870912 = 2^29

  private def sqlCellRes(latE: String, lonE: String, res: Int): String = {
    val cd = 90.0 / (1L << res)
    s"(CAST($res AS BIGINT) * 288230376151711744) + " +
      s"(CAST(floor(($latE + 90.0) / $cd) AS BIGINT) * 536870912) + " +
      s"CAST(floor(($lonE + 180.0) / $cd) AS BIGINT)"
  }

  // =====================================================================
  // relational core (scan/filter/join/agg/window/topk)
  // =====================================================================
  val relational: Map[String, (Q, String)] = Map(
    "q1_agg" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      read(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity").cast("long").as("sum_qty"),
          sum(round($"l_extendedprice" * 100).cast("long")).as("sum_price_cents"),
          sum(round($"l_discount" * 100).cast("long")).as("sum_disc_pct"),
          count(lit(1)).as("n"))
        .transform(sortedBy(_, $"l_returnflag", $"l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_pct,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_join_agg" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      val o = read(s, dir, "orders"); val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(round($"o_totalprice" * 100).cast("long")).as("revenue_cents"))
        .transform(sortedBy(_, $"n_name"))
    },
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_semi_anti" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      val c = read(s, dir, "customer"); val o = read(s, dir, "orders")
      val custWithFlag = c.join(
        o.select($"o_custkey".as("c_custkey")).distinct().withColumn("has_o", lit(1)),
        Seq("c_custkey"), "left_outer")
      custWithFlag.agg(
        sum(when($"has_o".isNotNull, 1L).otherwise(0L)).as("n_with_orders"),
        sum(when($"has_o".isNull, 1L).otherwise(0L)).as("n_without_orders"))
    },
      """SELECT
        |  CAST((SELECT count(*) FROM customer WHERE EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS BIGINT) AS n_with_orders,
        |  CAST((SELECT count(*) FROM customer WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS BIGINT) AS n_without_orders""".stripMargin),

    "q_window_topk" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      read(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"o_orderkey", $"rk".cast("long").as("rk"))
        .transform(sortedBy(_, $"o_custkey", $"rk"))
    },
      """SELECT o_custkey, o_orderkey, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin),

    "q_running_sum" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      read(s, dir, "lineitem")
        .withColumn("running_qty", sum($"l_quantity".cast("long")).over(w))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"running_qty")
    },
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
        |FROM lineitem""".stripMargin),

    "q_lag_lead" -> q((s: SparkSession, dir: String) => {
      // W1 analog: inter-event deltas per user (the inter-stop time pattern)
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"event_id")
      read(s, dir, "events")
        .withColumn("prev_val", lag($"value", 1).over(w))
        .filter($"prev_val".isNotNull)
        .select($"user_id", $"event_id",
          (round($"value" * 100).cast("long") - round($"prev_val" * 100).cast("long")).as("delta_cents"))
    },
      """SELECT user_id, event_id,
        |  CAST(round(value * 100) AS BIGINT) - CAST(round(prev_val * 100) AS BIGINT) AS delta_cents FROM (
        |  SELECT user_id, event_id, value,
        |    lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_val
        |  FROM events) WHERE prev_val IS NOT NULL""".stripMargin)
  )

  // =====================================================================
  // spatial (cell encode, hierarchy, k-ring join, distance join, bbox)
  // =====================================================================
  val spatial: Map[String, (Q, String)] = Map(
    "q_cell_assign" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      custPoints(s, dir)
        .select($"c_custkey", gcell($"lat", $"lon", 12).as("cell"),
          gcellParent(gcell($"lat", $"lon", 12), 8).as("cell_r8"))
    },
      s"""WITH pts AS ($custPointsSql)
         |SELECT c_custkey, ${sqlCell("lat", "lon")} AS cell,
         |  (CAST(8 AS BIGINT) * 288230376151711744) +
         |  ((CAST(floor((lat + 90.0) / 0.02197265625) AS BIGINT) // 16) * 536870912) +
         |  (CAST(floor((lon + 180.0) / 0.02197265625) AS BIGINT) // 16) AS cell_r8
         |FROM pts""".stripMargin),

    "q_cell_agg" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      custPoints(s, dir)
        .groupBy(gcellParent(gcell($"lat", $"lon", 12), 6).as("cell_r6"))
        .agg(count(lit(1)).as("n"))
        .transform(sortedBy(_, $"cell_r6"))
    },
      s"""WITH pts AS ($custPointsSql)
         |SELECT (CAST(6 AS BIGINT) * 288230376151711744) +
         |  ((CAST(floor((lat + 90.0) / 0.02197265625) AS BIGINT) // 64) * 536870912) +
         |  (CAST(floor((lon + 180.0) / 0.02197265625) AS BIGINT) // 64) AS cell_r6,
         |  count(*) AS n
         |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_kring_join" -> q((s: SparkSession, dir: String) => {
      // the candidate-generation join shape (J4/J5): supplier cells x
      // customer k-ring cells, equi-join on cell
      import s.implicits._
      val su = suppPoints(s, dir)
        .select($"s_suppkey", gcell($"lat", $"lon", 6).as("cell"))
      val cu = custPoints(s, dir)
        .select($"c_custkey", explode(kring(gcell($"lat", $"lon", 6), 1)).as("cell"))
      cu.join(broadcast(su), Seq("cell"))
        .select($"c_custkey", $"s_suppkey", $"cell")
        .transform(sortedBy(_, $"c_custkey", $"s_suppkey", $"cell"))
    },
      // away from poles/antimeridian the k-ring is cell + dr*2^29 + dc
      s"""WITH su AS ($suppPointsSql), cu AS ($custPointsSql),
         |offs(d) AS (VALUES (-1), (0), (1)),
         |curing AS (
         |  SELECT c_custkey,
         |    ${sqlCellRes("lat", "lon", 6)} + o1.d * 536870912 + o2.d AS cell
         |  FROM cu, offs o1, offs o2)
         |SELECT c_custkey, s_suppkey, cell FROM curing
         |JOIN (SELECT s_suppkey, ${sqlCellRes("lat", "lon", 6)} AS cell FROM su) sc
         |USING (cell) ORDER BY c_custkey, s_suppkey, cell""".stripMargin),

    "q_dist_join" -> q((s: SparkSession, dir: String) => {
      // distance join via cell prefilter + exact haversine — the engine's
      // own k-ring machinery instead of r1's O(|C|x|S|) cartesian. At
      // res 4 (5.625 deg ~ 625 km) with |lat| <= 45, a k=2 ring provably
      // covers every 500 km pair: delta-row <= 1, delta-col <=
      // ceil(500km / (625km * cos 45)) <= 2. Equi-join on cell ->
      // BroadcastHashJoin; work is O(pairs-in-neighborhood), not O(n*m).
      import s.implicits._
      val su = suppPoints(s, dir)
        .select($"s_suppkey", $"lat".as("slat"), $"lon".as("slon"),
          gcell($"lat", $"lon", 4).as("cell"))
      val cu = custPoints(s, dir)
        .select($"c_custkey", $"lat", $"lon",
          explode(kring(gcell($"lat", $"lon", 4), 2)).as("cell"))
      cu.join(broadcast(su), Seq("cell"))
        .withColumn("dist_km", round(haversineM($"lat", $"lon", $"slat", $"slon") / 1000.0, 2))
        .filter($"dist_km" <= 500.0)
        .select($"c_custkey", $"s_suppkey", $"dist_km")
        .transform(sortedBy(_, $"c_custkey", $"s_suppkey"))
    },
      // away from poles/antimeridian the k-ring is cell + dr*2^29 + dc
      s"""WITH su AS ($suppPointsSql), cu AS ($custPointsSql),
         |offs(d) AS (VALUES (-2), (-1), (0), (1), (2)),
         |curing AS (
         |  SELECT c_custkey, lat, lon,
         |    ${sqlCellRes("lat", "lon", 4)} + o1.d * 536870912 + o2.d AS cell
         |  FROM cu, offs o1, offs o2),
         |sc AS (SELECT s_suppkey, lat AS slat, lon AS slon,
         |  ${sqlCellRes("lat", "lon", 4)} AS cell FROM su)
         |SELECT c_custkey, s_suppkey, dist_km FROM (
         |  SELECT c_custkey, s_suppkey,
         |    round(2.0 * 6371000.0 * asin(least(1.0, sqrt(
         |      sin(radians(slat - lat) / 2) * sin(radians(slat - lat) / 2) +
         |      cos(radians(lat)) * cos(radians(slat)) *
         |      sin(radians(slon - lon) / 2) * sin(radians(slon - lon) / 2)))) / 1000.0, 2) AS dist_km
         |  FROM curing JOIN sc USING (cell))
         |WHERE dist_km <= 500.0 ORDER BY c_custkey, s_suppkey""".stripMargin),

    "q_bbox_filter" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      custPoints(s, dir)
        .filter($"lat" >= 0.0 && $"lat" <= 30.0 && $"lon" >= -50.0 && $"lon" <= 50.0)
        .agg(count(lit(1)).as("n"),
          min(gcell($"lat", $"lon", 12)).as("min_cell"),
          max(gcell($"lat", $"lon", 12)).as("max_cell"))
    },
      s"""WITH pts AS ($custPointsSql)
         |SELECT count(*) AS n,
         |  min(${sqlCell("lat", "lon")}) AS min_cell,
         |  max(${sqlCell("lat", "lon")}) AS max_cell
         |FROM pts WHERE lat >= 0.0 AND lat <= 30.0 AND lon >= -50.0 AND lon <= 50.0""".stripMargin)
  )

  // =====================================================================
  // graph-shaped relational ops (J2 way->edge expansion, A5 components)
  // =====================================================================
  val graphRel: Map[String, (Q, String)] = Map(
    "q_way_edges" -> q((s: SparkSession, dir: String) => {
      // J2: "way" = order, "nodes" = partkeys ordered by linenumber;
      // consecutive pairs -> edges via window lead
      import s.implicits._
      // ORDER BY must be a total order within the partition: the testdata
      // has ~118k duplicate (l_orderkey, l_linenumber) pairs, so the bare
      // linenumber sort made lead() nondeterministic (r1's only hash fail).
      // (l_linenumber, l_partkey, l_suppkey) is verified unique per order.
      val w = Window.partitionBy($"l_orderkey")
        .orderBy($"l_linenumber", $"l_partkey", $"l_suppkey")
      read(s, dir, "lineitem")
        .withColumn("to_pk", lead($"l_partkey", 1).over(w))
        .filter($"to_pk".isNotNull)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey".as("from_pk"), $"to_pk")
    },
      """SELECT l_orderkey, l_linenumber, l_partkey AS from_pk, to_pk FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |    lead(l_partkey, 1) OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_partkey, l_suppkey) AS to_pk
        |  FROM lineitem) WHERE to_pk IS NOT NULL""".stripMargin),

    "q_components" -> q((s: SparkSession, dir: String) => {
      // A5: connected components by iterative min-label propagation over a
      // nation<->region-hub star graph. Diameter 2, so 2 rounds reach the
      // converged labels (round r = min over the <=r-hop neighborhood);
      // each extra round is a full join+groupBy shuffle wasted — the
      // adaptive operator for unknown-diameter graphs is
      // graft.plans.ConnectedComponents. The hub node id is 100+regionkey.
      import s.implicits._
      val n = read(s, dir, "nation")
      val edges = n.select($"n_nationkey".cast("long").as("a"),
          ($"n_regionkey".cast("long") + 100L).as("b"))
      val sym = edges.unionByName(edges.select($"b".as("a"), $"a".as("b")))
      var labels = sym.select($"a".as("node")).distinct()
        .withColumn("comp", $"node")
      for (_ <- 1 to 2) {
        val viaNeighbors = sym.join(labels, sym("b") === labels("node"))
          .select(sym("a").as("node"), $"comp")
        labels = labels.unionByName(viaNeighbors)
          .groupBy($"node").agg(min($"comp").as("comp"))
      }
      sortedBy(labels, $"node")
    },
      """WITH RECURSIVE edges AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS a, CAST(n_regionkey AS BIGINT) + 100 AS b FROM nation
        |  UNION ALL
        |  SELECT CAST(n_regionkey AS BIGINT) + 100 AS a, CAST(n_nationkey AS BIGINT) AS b FROM nation),
        |reach(src, node, d) AS (
        |  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM edges) t
        |  UNION ALL
        |  SELECT r.src, e.b, r.d + 1 FROM reach r JOIN edges e ON e.a = r.node WHERE r.d < 4)
        |SELECT src AS node, min(node) AS comp FROM reach GROUP BY src ORDER BY node""".stripMargin)
  )

  // =====================================================================
  // events (time windows, sessionization)
  // =====================================================================
  val events: Map[String, (Q, String)] = Map(
    "q_events_window" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      read(s, dir, "events")
        .withColumn("bucket", floor(unix_micros($"ts".cast("timestamp")) / 300000000L))
        .groupBy($"bucket", $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(round($"value" * 100).cast("long")).as("sum_value_cents"))
        .transform(sortedBy(_, $"bucket", $"event_type"))
    },
      """SELECT CAST(floor(epoch_us(ts) / 300000000) AS BIGINT) AS bucket, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_sessionize" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      read(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros($"ts".cast("timestamp")), 1).over(w))
        .withColumn("new_sess",
          when($"prev_us".isNull || unix_micros($"ts".cast("timestamp")) - $"prev_us" > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy($"user_id")
        .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
        .transform(sortedBy(_, $"user_id"))
    },
      """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM (
        |    SELECT user_id, ts,
        |      lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |    FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  // =====================================================================
  // text analysis (lang-ID, quality, tokens, fingerprint)
  // =====================================================================
  private val bigramWith = "WITH RECURSIVE " + TextOps.Sql.bigramCte("documents")

  val text: Map[String, (Q, String)] = Map(
    "q_lang_id" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      val d = read(s, dir, "documents")
      val scored = d.select($"doc_id",
        TextOps.langScore($"text", "de").as("s_de"),
        TextOps.langScore($"text", "en").as("s_en"),
        TextOps.langScore($"text", "es").as("s_es"),
        TextOps.langScore($"text", "fr").as("s_fr"))
      scored.withColumn("lang_guess",
        when($"s_de" >= $"s_en" && $"s_de" >= $"s_es" && $"s_de" >= $"s_fr", "de")
          .when($"s_en" >= $"s_es" && $"s_en" >= $"s_fr", "en")
          .when($"s_es" >= $"s_fr", "es")
          .otherwise("fr"))
        .select($"doc_id", $"s_de", $"s_en", $"s_es", $"s_fr", $"lang_guess")
    },
      s"""WITH scored AS (SELECT doc_id,
         |  ${TextOps.Sql.langScore("text", "de")} AS s_de,
         |  ${TextOps.Sql.langScore("text", "en")} AS s_en,
         |  ${TextOps.Sql.langScore("text", "es")} AS s_es,
         |  ${TextOps.Sql.langScore("text", "fr")} AS s_fr
         |FROM documents)
         |SELECT doc_id, s_de, s_en, s_es, s_fr,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_guess
         |FROM scored""".stripMargin),

    "q_token_stats" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      read(s, dir, "documents").select($"doc_id",
        TextOps.tokenCount($"text").cast("long").as("n_tokens"),
        TextOps.tokenEstimate($"text").cast("long").as("token_est"),
        TextOps.qualityScore($"text").as("quality"))
    },
      s"""SELECT doc_id,
         |  CAST(${TextOps.Sql.tokenCount("text")} AS BIGINT) AS n_tokens,
         |  CAST(${TextOps.Sql.tokenCount("text")} + ceil(length(text) / 4.0) AS BIGINT) AS token_est,
         |  round((least(CAST(${TextOps.Sql.tokenCount("text")} AS DOUBLE) / 50.0, 1.0) +
         |    CASE WHEN CAST(length(text) AS DOUBLE) / ${TextOps.Sql.tokenCount("text")} >= 3
         |          AND CAST(length(text) AS DOUBLE) / ${TextOps.Sql.tokenCount("text")} <= 8
         |         THEN 1.0 ELSE 0.5 END +
         |    CASE WHEN ((${TextOps.Sql.wordCount("text", "the")}) + (${TextOps.Sql.wordCount("text", "a")}))
         |            / CAST(${TextOps.Sql.tokenCount("text")} AS DOUBLE) > 0.02
         |          AND ((${TextOps.Sql.wordCount("text", "the")}) + (${TextOps.Sql.wordCount("text", "a")}))
         |            / CAST(${TextOps.Sql.tokenCount("text")} AS DOUBLE) < 0.5
         |         THEN 1.0 ELSE 0.5 END) / 3.0, 4) AS quality
         |FROM documents""".stripMargin),

    "q_fingerprint" -> q((s: SparkSession, dir: String) => {
      // fully IN-ROW (graft.functions.GramFingerprint): the fingerprint
      // is (sum of the doc's own gram hashes mod p + count) mod p — Long
      // sum is associative, so folding the codegen'd hash array in-row
      // equals the old explode + groupBy(doc_id) aggregation exactly,
      // without the gram explode or the exchange (guide §2.4). The
      // contains-filter replicates the explode's drop of bigram-less
      // docs (see graft.functions.SigOps).
      import s.implicits._
      val B = org.apache.spark.sql.graftbridge.ColumnBridge
      read(s, dir, "documents")
        .filter($"text".contains(" "))
        .select($"doc_id", B.column(graft.functions.GramFingerprint(
          B.expression(TextOps.bigramHashes($"text", distinct = false)),
          1000000007L)).as("fingerprint"))
        .transform(sortedBy(_, $"doc_id"))
    },
      s"""$bigramWith
         |SELECT doc_id,
         |  CAST((sum(${TextOps.Sql.gramHash}) % 1000000007 + count(*)) % 1000000007 AS BIGINT) AS fingerprint
         |FROM grams GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  // =====================================================================
  // dedup family (exact, n-gram jaccard, minhash+LSH, simhash, embedding)
  // =====================================================================
  val dedup: Map[String, (Q, String)] = Map(
    "q_dedup_exact" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      sortedBy(DedupOps.exact(read(s, dir, "documents")), $"canonical_id")
    },
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY 1""".stripMargin),

    "q_ngram_jaccard" -> q((s: SparkSession, dir: String) => {
      // DF-capped (grams in > 10% of docs dropped — the hot-gram k^2
      // self-join cut; identical cut in the oracle CTE), threshold 0.5
      import s.implicits._
      sortedBy(DedupOps.ngramJaccard(read(s, dir, "documents"), 0.5), $"a", $"b")
    },
      s"""$bigramWith,
         |gh AS (SELECT DISTINCT doc_id, ${TextOps.Sql.gramHash} AS h FROM grams),
         |total AS (SELECT count(*) AS n_docs FROM documents),
         |df AS (SELECT h, count(*) AS df FROM gh GROUP BY 1),
         |kept AS (SELECT gh.doc_id, gh.h FROM gh JOIN df USING (h), total
         |  WHERE df.df <= least(floor(n_docs * ${DedupOps.DefaultDfCapFrac}),
         |                       ${DedupOps.DfCapAbs})),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
         |  FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b, jaccard FROM (
         |  SELECT a, b, round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 4) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b) t
         |WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin),

    "q_minhash" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      DedupOps.minhash(read(s, dir, "documents"))
        .select($"doc_id", $"j".cast("long").as("j"), $"mh")
        .transform(sortedBy(_, $"doc_id", $"j"))
    },
      s"""$bigramWith,
         |gh AS (SELECT DISTINCT doc_id, ${TextOps.Sql.gramHash} AS h FROM grams),
         |js(j) AS (SELECT 1 UNION ALL SELECT j + 1 FROM js WHERE j < ${DedupOps.NumHashes})
         |SELECT doc_id, CAST(j AS BIGINT) AS j,
         |  CAST(min(((j * 2 + 1) * h + j * 12345) % ${DedupOps.MinhashPrime}) AS BIGINT) AS mh
         |FROM gh, js GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_minhash_lsh" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      sortedBy(DedupOps.minhashLsh(read(s, dir, "documents")), $"a", $"b")
    },
      s"""$bigramWith,
         |gh AS (SELECT DISTINCT doc_id, ${TextOps.Sql.gramHash} AS h FROM grams),
         |js(j) AS (SELECT 1 UNION ALL SELECT j + 1 FROM js WHERE j < ${DedupOps.NumHashes}),
         |mh AS (SELECT doc_id, j,
         |  min(((j * 2 + 1) * h + j * 12345) % ${DedupOps.MinhashPrime}) AS mh
         |  FROM gh, js GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST((j + 1) // 2 AS INTEGER) AS band, sum(mh) AS sig
         |  FROM mh GROUP BY 1, 2)
         |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_bands
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_simhash" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      sortedBy(DedupOps.simhash(read(s, dir, "documents")), $"doc_id")
    },
      {
        val bitsSql = (0 until 16).map { k =>
          val p = 1L << k
          s"CASE WHEN sum(CASE WHEN h % ${2 * p} >= $p THEN 1 ELSE -1 END) > 0 THEN CAST($p AS BIGINT) ELSE 0 END"
        }.mkString(" + ")
        s"""$bigramWith,
           |gh AS (SELECT DISTINCT doc_id, ${TextOps.Sql.gramHash} AS h FROM grams)
           |SELECT doc_id, CAST($bitsSql AS BIGINT) AS simhash
           |FROM gh GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    "q_embed_cosine" -> q((s: SparkSession, dir: String) => {
      // LSH-bucket blocking (similarity-preserving) + exact cosine;
      // threshold 0.25 chosen so the synthetic corpus (max pairwise cosine
      // ~0.47) yields a non-trivial result set — r1's 0.93 threshold with
      // id-window blocking passed on provably-empty output
      import s.implicits._
      sortedBy(DedupOps.embeddingCosine(read(s, dir, "embeddings"), 0.25), $"a", $"b")
    },
      """WITH RECURSIVE comp AS (
        |  SELECT vec_id, idx.i - 1 AS i, CAST(embedding[idx.i] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx),
        |js(j) AS (SELECT 0 UNION ALL SELECT j + 1 FROM js WHERE j < 7),
        |projs AS (
        |  SELECT vec_id, j, sum(v * ((i * 37 + j * 101) % 7 - 3)) AS proj
        |  FROM comp, js GROUP BY 1, 2),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN proj > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM projs GROUP BY 1),
        |norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY 1),
        |pairs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b FROM buckets x
        |  JOIN buckets y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
        |dots AS (
        |  SELECT p.a, p.b, sum(cx.v * cy.v) AS dot FROM pairs p
        |  JOIN comp cx ON cx.vec_id = p.a
        |  JOIN comp cy ON cy.vec_id = p.b AND cy.i = cx.i
        |  GROUP BY 1, 2)
        |SELECT a, b, cos FROM (
        |  SELECT a, b, round(dot / (na.nrm * nb.nrm), 4) AS cos
        |  FROM dots JOIN norms na ON na.vec_id = a JOIN norms nb ON nb.vec_id = b) t
        |WHERE cos >= 0.25 ORDER BY a, b""".stripMargin)
  )

  // =====================================================================
  // ANN (brute-force top-k baseline + LSH bucket histogram)
  // =====================================================================
  val ann: Map[String, (Q, String)] = Map(
    "q_ann_topk" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      val emb = read(s, dir, "embeddings")
      AnnOps.bruteForceTopK(emb.filter($"vec_id" < 5), emb, 3)
        .select($"q", $"neighbor", $"rank".cast("long").as("rank"), $"cos")
        .transform(sortedBy(_, $"q", $"rank"))
    },
      """WITH comp AS (
        |  SELECT vec_id, idx.i AS i, CAST(embedding[idx.i] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx),
        |norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY 1),
        |dots AS (
        |  SELECT x.vec_id AS q, y.vec_id AS vec_id, sum(x.v * y.v) AS dot
        |  FROM comp x JOIN comp y ON x.i = y.i AND x.vec_id <> y.vec_id
        |  WHERE x.vec_id < 5 GROUP BY 1, 2),
        |sims AS (
        |  SELECT dots.q AS q, dots.vec_id AS vec_id, round(dot / (nq.nrm * nc.nrm), 4) AS cos
        |  FROM dots JOIN norms nq ON nq.vec_id = dots.q JOIN norms nc ON nc.vec_id = dots.vec_id),
        |ranked AS (
        |  SELECT q, vec_id AS neighbor,
        |    row_number() OVER (PARTITION BY q ORDER BY cos DESC, vec_id) AS rank, cos
        |  FROM sims)
        |SELECT q, neighbor, CAST(rank AS BIGINT) AS rank, cos
        |FROM ranked WHERE rank <= 3 ORDER BY q, rank""".stripMargin),

    "q_ann_lsh_buckets" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      AnnOps.lshBuckets(read(s, dir, "embeddings"), 8)
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .transform(sortedBy(_, $"bucket"))
    },
      """WITH RECURSIVE comp AS (
        |  SELECT vec_id, idx.i - 1 AS i, CAST(embedding[idx.i] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx),
        |js(j) AS (SELECT 0 UNION ALL SELECT j + 1 FROM js WHERE j < 7),
        |projs AS (
        |  SELECT vec_id, j, sum(v * ((i * 37 + j * 101) % 7 - 3)) AS proj
        |  FROM comp, js GROUP BY 1, 2),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN proj > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM projs GROUP BY 1)
        |SELECT bucket, count(*) AS n FROM buckets GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_ann_lsh_topk" -> q((s: SparkSession, dir: String) => {
      import s.implicits._
      AnnOps.lshTopK(read(s, dir, "embeddings"), 8, 3)
        .select($"q", $"neighbor", $"rank".cast("long").as("rank"), $"cos")
        .transform(sortedBy(_, $"q", $"rank"))
    },
      """WITH RECURSIVE comp AS (
        |  SELECT vec_id, idx.i - 1 AS i, CAST(embedding[idx.i] AS DOUBLE) AS v
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx),
        |js(j) AS (SELECT 0 UNION ALL SELECT j + 1 FROM js WHERE j < 7),
        |projs AS (
        |  SELECT vec_id, j, sum(v * ((i * 37 + j * 101) % 7 - 3)) AS proj
        |  FROM comp, js GROUP BY 1, 2),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN proj > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM projs GROUP BY 1),
        |norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY 1),
        |pairs AS (
        |  SELECT x.vec_id AS q, y.vec_id AS neighbor FROM buckets x
        |  JOIN buckets y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
        |dots AS (
        |  SELECT p.q, p.neighbor, sum(cx.v * cy.v) AS dot FROM pairs p
        |  JOIN comp cx ON cx.vec_id = p.q
        |  JOIN comp cy ON cy.vec_id = p.neighbor AND cy.i = cx.i
        |  GROUP BY 1, 2),
        |sims AS (
        |  SELECT q, neighbor, round(dot / (nq.nrm * nn.nrm), 4) AS cos
        |  FROM dots JOIN norms nq ON nq.vec_id = q JOIN norms nn ON nn.vec_id = neighbor),
        |ranked AS (
        |  SELECT q, neighbor,
        |    row_number() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rank, cos
        |  FROM sims)
        |SELECT q, neighbor, CAST(rank AS BIGINT) AS rank, cos
        |FROM ranked WHERE rank <= 3 ORDER BY q, rank""".stripMargin),

    "q_ann_ivf_lists" -> q((s: SparkSession, dir: String) => {
      // IVF inverted-list histogram: 16 deterministic anchors (lowest
      // vec_ids as centroid stand-ins), nearest-anchor assignment on
      // 4-decimal cosine with ties to the lower list id
      import s.implicits._
      AnnOps.ivfAssign(read(s, dir, "embeddings"), 16)
        .groupBy($"list_id").agg(count(lit(1)).as("n"))
        .transform(sortedBy(_, $"list_id"))
    },
      s"""$ivfAssignWith
         |SELECT list_id, count(*) AS n FROM assign GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_ann_ivf_topk" -> q((s: SparkSession, dir: String) => {
      // probe-limited IVF search: queries probe their 4 nearest anchor
      // lists, exact cosine within the probed lists, top-3
      import s.implicits._
      val emb = read(s, dir, "embeddings")
      AnnOps.ivfTopK(emb.filter($"vec_id" < 5), emb, 16, 4, 3)
        .select($"q", $"neighbor", $"rank".cast("long").as("rank"), $"cos")
        .transform(sortedBy(_, $"q", $"rank"))
    },
      s"""$ivfAssignWith,
         |probes AS (
         |  SELECT q, list_id FROM (
         |    SELECT vec_id AS q, list_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY acos DESC, list_id) AS rk
         |    FROM asims WHERE vec_id < 5) t WHERE rk <= 4),
         |cand AS (
         |  SELECT p.q, a2.vec_id AS neighbor FROM probes p
         |  JOIN assign a2 ON a2.list_id = p.list_id AND a2.vec_id <> p.q),
         |cdots AS (
         |  SELECT c.q, c.neighbor, sum(cq.v * cy.v) AS dot FROM cand c
         |  JOIN comp cq ON cq.vec_id = c.q
         |  JOIN comp cy ON cy.vec_id = c.neighbor AND cy.i = cq.i
         |  GROUP BY 1, 2),
         |sims AS (
         |  SELECT q, neighbor, round(dot / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM cdots JOIN norms nq ON nq.vec_id = q JOIN norms nn ON nn.vec_id = neighbor),
         |ranked AS (
         |  SELECT q, neighbor,
         |    row_number() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS rank, cos
         |  FROM sims)
         |SELECT q, neighbor, CAST(rank AS BIGINT) AS rank, cos
         |FROM ranked WHERE rank <= 3 ORDER BY q, rank""".stripMargin)
  )

  /** Shared oracle CTE prefix for the IVF queries: per-component unnest,
    * norms, the 16-anchor table, nearest-anchor assignment (argmax of the
    * 4-decimal cosine, ties to the lower list id) — mirrors
    * AnnOps.ivfAssignFull exactly. */
  private def ivfAssignWith: String =
    """WITH comp AS (
      |  SELECT vec_id, idx.i AS i, CAST(embedding[idx.i] AS DOUBLE) AS v
      |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx),
      |norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY 1),
      |anch AS (SELECT vec_id AS list_id FROM embeddings ORDER BY vec_id LIMIT 16),
      |adots AS (
      |  SELECT c.vec_id, a.list_id, sum(c.v * ca.v) AS dot
      |  FROM comp c CROSS JOIN anch a
      |  JOIN comp ca ON ca.vec_id = a.list_id AND ca.i = c.i
      |  GROUP BY 1, 2),
      |asims AS (
      |  SELECT d.vec_id, d.list_id, round(dot / (nv.nrm * na.nrm), 4) AS acos
      |  FROM adots d JOIN norms nv ON nv.vec_id = d.vec_id
      |  JOIN norms na ON na.vec_id = d.list_id),
      |assign AS (
      |  SELECT vec_id, list_id FROM (
      |    SELECT vec_id, list_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY acos DESC, list_id) AS rk
      |    FROM asims) t WHERE rk = 1)""".stripMargin

  def all: Map[String, (Q, String)] =
    relational ++ spatial ++ graphRel ++ events ++ text ++ dedup ++ ann

  def queries: Map[String, Q] =
    all.map { case (k, (q, _)) => k -> q } ++ PipelineQueries.all ++
      PipelineQueries.invariants
  def oracleSql: Map[String, String] = all.collect {
    case (k, (_, sql)) if sql != null => k -> sql
  } ++ PipelineOracles.sql ++ PipelineQueries.invariantSql
}
