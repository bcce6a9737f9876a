package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

import graft.queries.GraftQueries

/** The catalog workload: every `GraftQueries.all` query, one pass = each
  * query once, run back to back in an order permuted by the seed. The
  * tables are the repository's fixed seed-42 test tables, copied into
  * `dataDir`, so every query's row count and checksum can be compared
  * against recorded values. */
final class Catalog(dataDir: java.io.File) extends Workload {
  private val order = GraftQueries.all.keys.toSeq.sorted
  /** query -> (rows, checksum) recorded for the fixed tables */
  private lazy val expected: Map[String, (Long, Long)] = Catalog.readExpected()
  private var seed = 0L
  private var pass = 0
  /** query -> (rows, checksum) of the last pass */
  private var observed: Seq[(String, (Long, Long))] = Nil
  private var lastOk = 0
  /** when set, the first pass's (rows, checksum) per query are written here */
  var recordTo: Option[String] = None

  /** Reads every table once, so a missing or unreadable file fails set-up
    * rather than a query. */
  def setup(spark: SparkSession, seed: Long): Unit = {
    this.seed = seed
    Catalog.Tables.foreach { t =>
      val f = new java.io.File(dataDir, s"$t.parquet")
      require(f.exists(), s"catalog table missing: $f")
      require(spark.read.parquet(f.getAbsolutePath).count() > 0, s"catalog table empty: $f")
    }
  }

  def rep(spark: SparkSession, span: Spans): Unit = {
    val rnd = new scala.util.Random(seed * 7919L + pass)
    pass += 1
    val dir = dataDir.getAbsolutePath
    observed = rnd.shuffle(order).map { name =>
      name -> span(s"queries.$name")(Catalog.checksum(GraftQueries.all(name)._1(spark, dir)))
    }
  }

  /** each query's row count and checksum against the recorded values */
  def check(spark: SparkSession): RepResult = {
    recordTo.foreach { path =>
      val w = new java.io.PrintWriter(path, "UTF-8")
      try {
        w.println(s"# query\trows\tchecksum (tables in $dataDir)")
        observed.sortBy(_._1).foreach { case (q, (r, c)) => w.println(s"$q\t$r\t$c") }
      } finally w.close()
      recordTo = None
    }
    val notes = observed.collect {
      case (q, (r, c)) if !expected.get(q).contains((r, c)) =>
        s"$q: rows $r checksum $c, recorded " +
          expected.get(q).map { case (er, ec) => s"rows $er checksum $ec" }.getOrElse("nothing")
    }
    lastOk = order.size - notes.size
    RepResult(attempted = order.size, failed = notes.size, units = order.size, notes = notes)
  }

  /** share of the last pass's query results that match the recorded ones */
  def accuracy(spark: SparkSession): Double = lastOk.toDouble / math.max(1, order.size)
}

object Catalog {
  /** the tables the queries read */
  val Tables = Seq("customer", "documents", "embeddings", "events", "lineitem", "nation",
    "orders", "supplier")

  def readExpected(): Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/catalog_expected.tsv")
    if (in == null) Map.empty
    else {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, r, s) = l.split("\t")
        n -> (r.toLong, s.toLong)
      }.toMap
      finally src.close()
    }
  }

  /** Runs the query's physical plan once and folds every output row into an
    * order-insensitive checksum: the sum of a mixed hash per row. Doubles
    * and floats are rounded to 1e-6 first, so summation order inside an
    * aggregate cannot change the result. Returns (rows, checksum). */
  def checksum(df: DataFrame): (Long, Long) = {
    val types = df.schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      while (it.hasNext) { s += mix(rowHash(it.next(), types)); n += 1 }
      Iterator.single((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((n0, s0), (n, s)) => (n0 + n, s0 + s) }
  }

  private def mix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  private def rowHash(r: SpecializedGetters, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) { h = mix(h * 31 + valueHash(r, i, types(i))); i += 1 }
    h
  }

  private def round6(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d.isInfinite) (if (d > 0) Long.MaxValue else Long.MinValue)
    else math.round(d * 1e6)

  private def valueHash(g: SpecializedGetters, i: Int, t: DataType): Long =
    if (g.isNullAt(i)) 0x5bd1e995L
    else t match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => g.getByte(i).toLong
      case ShortType => g.getShort(i).toLong
      case IntegerType | DateType => g.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType => g.getLong(i)
      case FloatType => round6(g.getFloat(i).toDouble)
      case DoubleType => round6(g.getDouble(i))
      case d: DecimalType => round6(g.getDecimal(i, d.precision, d.scale).toDouble)
      case StringType => g.getUTF8String(i).toString.hashCode.toLong
      case BinaryType => java.util.Arrays.hashCode(g.getBinary(i)).toLong
      case a: ArrayType =>
        val arr = g.getArray(i)
        var h = 23L
        var j = 0
        while (j < arr.numElements()) { h = mix(h * 31 + valueHash(arr, j, a.elementType)); j += 1 }
        h
      case s: StructType => rowHash(g.getStruct(i, s.size), s.fields.map(_.dataType))
      case other => g.get(i, other).toString.hashCode.toLong
    }
}
