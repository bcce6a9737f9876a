package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Logic-parity harness: run each DuckDB oracle through Spark SQL (after
  * minimal dialect rewrites) and compare row multisets against the
  * DataFrame implementation. This catches formula drift between the Spark
  * plan and the oracle; true engine-level parity is checked by the driver's
  * DuckDB run. */
class OracleParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  def dialect(sql: String): String = sql
    .replaceAll("// (\\d+)", "div $1")
    .replaceAll("epoch_us\\(ts\\)", "unix_micros(cast(ts as timestamp))")
    .replaceAll("(?s)offs\\(d\\) AS \\(VALUES \\(-1\\), \\(0\\), \\(1\\)\\)",
      "offs AS (SELECT * FROM VALUES (-1), (0), (1) AS t(d))")
    .replaceAll("(?s)offs\\(d\\) AS \\(VALUES \\(-2\\), \\(-1\\), \\(0\\), \\(1\\), \\(2\\)\\)",
      "offs AS (SELECT * FROM VALUES (-2), (-1), (0), (1), (2) AS t(d))")
    .replace("(SELECT unnest(generate_series(1, 64)) AS i) idx",
      "(SELECT explode(sequence(1, 64)) AS i) idx")
    .replace("embedding[idx.i]", "element_at(embedding, idx.i)")

  def norm(df: DataFrame): Seq[String] = df.collect().map { r =>
    (0 until r.length).map { i =>
      val v = r.get(i)
      v match {
        case null => "null"
        case d: java.lang.Double => BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString
        case f: java.lang.Float => BigDecimal(f.toDouble).bigDecimal.stripTrailingZeros.toPlainString
        case n: java.lang.Number => BigDecimal(n.toString).bigDecimal.stripTrailingZeros.toPlainString
        case x => x.toString
      }
    }.mkString("|")
  }.sorted.toSeq

  lazy val registered: Unit = {
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")) {
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
  }

  test("every boundary in the catalog queries honours the audit switch") {
    def hasBoundary(df: DataFrame): Boolean = df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }
    val catalog = graft.queries.GraftQueries.all
    assert(catalog.size == 29)
    graft.plans.Boundary.audit = true
    try {
      val withBoundary = catalog.keys.toSeq.sorted
        .filter(name => hasBoundary(catalog(name)._1(spark, dir)))
      assert(withBoundary.isEmpty, s"boundaries left in audit mode: $withBoundary")
    } finally graft.plans.Boundary.audit = false
    // with the switch off, a sortedBy query reads its rows from a boundary
    assert(hasBoundary(catalog("q_dist_join")._1(spark, dir)))
  }

  for ((name, sql) <- graft.queries.GraftQueries.oracleSql.toSeq.sortBy(_._1)) {
    test(s"oracle parity: $name") {
      registered
      val impl = graft.queries.GraftQueries.queries(name)(spark, dir)
      val oracle = spark.sql(dialect(sql))
      val a = norm(impl)
      val b = norm(oracle)
      // column-name parity (driver sorts by name before hashing)
      assert(impl.columns.sorted.toSeq == oracle.columns.sorted.toSeq,
        s"column names differ: ${impl.columns.toSeq} vs ${oracle.columns.toSeq}")
      assert(a.length == b.length, s"row counts differ: ${a.length} vs ${b.length}")
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(diffs.isEmpty, s"first diffs: ${diffs.take(3).mkString(" ;; ")}")
    }
  }
}
