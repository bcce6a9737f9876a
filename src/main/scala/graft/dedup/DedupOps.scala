package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Boundary
import graft.text.TextOps

/** Deduplication operators for training-data pipelines — exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine. All formulas are
  * integer/ascii arithmetic reproducible in the DuckDB oracle; the Spark
  * plans are shuffle-lean (gram explode -> groupBy doc -> band equi-join).
  *
  * Scale notes: MinHash/SimHash signatures reduce each document to O(1)
  * state, so the candidate join shuffles signatures, never documents; the
  * pairwise verify joins only LSH-bucket collisions (band equality), the
  * standard way n^2 is avoided at 10^12 rows. */
object DedupOps {
  val MinhashPrime = 2147483647L
  val NumHashes = 8

  /** Exact dedup: canonical representative per identical text.
    * (hash-groupBy; at scale this is a single shuffle on the text hash). */
  def exact(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.groupBy($"text")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).cast("long").as("n_dups"))
      .select($"canonical_id", $"n_dups")
  }

  /** Per-doc distinct gram-hash sets (the shingle set). In-row dedup
    * (duplicate (doc_id, h) pairs only arise within one document), so the
    * old global distinct() exchange is gone — this is now a pure scan
    * projection. */
  def gramHashes(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      explode(TextOps.bigramHashes($"text", distinct = true)).as("h"))
  }

  /** Default document-frequency cap for ngramJaccard: grams present in more
    * than this fraction of all docs are dropped before pairing (the standard
    * stopword-shingle cut — one hot gram shared by k docs otherwise makes
    * k^2 join rows; at sf0.1 the uncapped join did 322M pair-rows, capped
    * ~7M, a 46x cut). */
  val DefaultDfCapFrac = 0.10

  /** ABSOLUTE ceiling on gram document frequency: a purely fractional cap
    * still admits k = frac*N docs per gram, i.e. k^2 = (frac*N)^2 pair rows
    * — unbounded in corpus size. With the absolute ceiling the worst-case
    * pair count per gram is DfCapAbs^2 regardless of N; docs more similar
    * than that are caught by the MinHash-LSH path, the intended verifier at
    * corpus scale. */
  val DfCapAbs = 10000L

  /** n-gram Jaccard similarity with a document-frequency cap: grams in more
    * than dfCapFrac of all docs are excluded from the universe (both the
    * intersection AND the set sizes — a consistent filtered-Jaccard), then
    * |A ∩ B| / |A ∪ B| over the remaining word-bigram hash sets.
    * Returns pairs with jaccard >= threshold (a < b). */
  def ngramJaccard(docs: DataFrame, threshold: Double,
                   dfCapFrac: Double = DefaultDfCapFrac): DataFrame = {
    import docs.sparkSession.implicits._
    // boundary, not cache: g is consumed by three downstream plans;
    // boundary blocks are released when the plan is GC'd, while a cache()
    // entry pins executor memory until an explicit unpersist no caller
    // ever issues (the r3 leak)
    val g = Boundary.lazily(gramHashes(docs))
    // DF cut: one tiny broadcast of the total count, one agg over grams.
    // The hot-gram side is SMALL relative to the gram universe but not
    // constant: under the absolute ceiling its count is bounded by
    // totalGramOccurrences / DfCapAbs, which grows linearly with the
    // corpus — so no compile-time broadcast hint (a forced broadcast
    // would hit driver/broadcast limits at exactly the corpus scale
    // DfCapAbs targets); AQE picks a broadcast anti-join at runtime
    // whenever the measured hot set is actually small.
    val total = docs.select(count(lit(1)).as("n_docs"))
    val df = g.groupBy($"h").agg(count(lit(1)).as("df"))
    val hotGrams = df.crossJoin(broadcast(total))
      .filter($"df" > least(floor($"n_docs" * dfCapFrac), lit(DfCapAbs)))
      .select($"h")
    val kept = g.join(hotGrams, Seq("h"), "left_anti")
    // Pair generation WITHOUT the self-join: the old kept⋈kept-on-h plan
    // funneled every pair of a capped hot gram (up to DfCapAbs^2 rows per
    // gram) through a sort-merge join whose distinct-key count — not the
    // data volume — set the parallelism (measured at sf0.1: 3.5M pair
    // rows from 90 join keys, the query's dominant cost). Equivalent
    // formulation: per-gram sorted doc array (bounded at DfCapAbs
    // elements by the cut above), round-robin spread over the cores, and
    // chained codegen explodes + b > a filter. Same pair multiset ->
    // identical n_inter; no broadcast and no join, so the gram dimension
    // stays fully distributed (10^12-corpus safe), the per-task work is
    // bounded by DfCapAbs^2 per gram row, and map-side partial
    // aggregation halves what reaches the (a, b) exchange.
    //
    // perGram is behind a boundary: it is the SMALL gram
    // summary (one row per kept gram, array bounded at DfCapAbs) and has
    // two consumers — the pair generation and the doc-size aggregation.
    // Without the boundary each consumer re-ran the whole upstream (g
    // scan, df agg, hot-gram anti-join, collect_list agg), and sizes was
    // consumed twice more (sza/szb), so the df/kept subtree appeared
    // THREE times in the physical plan (measured: 3 duplicate df agg
    // exchanges + 2 duplicate size aggs at sf0.1).
    val perGram = Boundary.lazily(kept.groupBy($"h")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism))
    // per-doc kept-gram count derived from perGram instead of a second
    // pass over kept: every kept (doc_id, h) row is exactly one element
    // of exactly one ds array, so the multiset of exploded doc_ids equals
    // the kept rows — identical counts, tiny input.
    // sizes is itself consumed twice (sza and szb join sides) — a
    // boundary keeps the agg from running twice.
    val sizes = Boundary.lazily(perGram.select(explode($"ds").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("sz")))
    val inter = perGram
      .select(explode($"ds").as("a"), $"ds")
      .select($"a", explode($"ds").as("b"))
      .filter($"b" > $"a")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        round($"n_inter".cast("double") / ($"sza" + $"szb" - $"n_inter"), 4))
      .filter($"jaccard" >= threshold)
      .select($"a", $"b", $"jaccard")
  }

  private val Bridge = org.apache.spark.sql.graftbridge.ColumnBridge

  /** Per-doc wide MinHash row, fully IN-ROW: the signature is a fold over
    * the document's own gram-hash array (graft.functions.MinhashSigs —
    * all NumHashes minima in one codegen pass), so the gram explode AND
    * the groupBy(doc_id) exchange of the aggregate formulation are gone;
    * the signature is a projection straight off the scan at any corpus
    * size. Long min commutes, so values are identical to the old
    * min-aggregate per hash function. `contains(" ")` replicates the
    * explode's drop of bigram-less docs (see SigOps scaladoc). */
  private def minhashWide(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sigs = Bridge.column(graft.functions.MinhashSigs(
      Bridge.expression(TextOps.bigramHashes($"text", distinct = true)),
      NumHashes, MinhashPrime))
    docs.filter($"text".contains(" "))
      .select($"doc_id", sigs.as("sigs"))
      .select($"doc_id" +: (1 to NumHashes).map(j =>
        $"sigs".getItem(j - 1).as(s"mh$j")): _*)
  }

  /** MinHash signatures: minhash_j = min((a_j*h + b_j) mod p) for j=1..8,
    * a_j = 2j+1, b_j = j*12345 (all-positive arithmetic: identical mod
    * semantics in every engine). Output: (doc_id, j, mh). */
  def minhash(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // unpivot AFTER aggregation: NumHashes rows per doc, not per gram
    val pairs = (1 to NumHashes)
      .map(j => struct(lit(j).as("j"), col(s"mh$j").as("mh")))
    minhashWide(docs)
      .select($"doc_id", explode(array(pairs: _*)).as("p"))
      .select($"doc_id", $"p.j".as("j"), $"p.mh".as("mh"))
  }

  /** MinHash LSH candidate pairs: 4 bands x 2 rows; two docs collide when a
    * whole band matches. Returns (a, b, n_bands) pairs, a < b. */
  def minhashLsh(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // band id = (j+1)/2; band signature = sum of member hashes (order-free)
    // — computed directly from the wide row, so the only shuffles are the
    // gram groupBy and the band equi-join (the per-(doc,j) and per-band
    // re-aggregations of the previous plan folded into expressions)
    val bandCols = (1 to NumHashes / 2).map { b =>
      struct(lit(b).as("band"), (col(s"mh${2 * b - 1}") + col(s"mh${2 * b}")).as("sig"))
    }
    val bands = minhashWide(docs)
      .select($"doc_id", explode(array(bandCols: _*)).as("p"))
      .select($"doc_id", $"p.band".as("band"), $"p.sig".as("sig"))
    // collision-pair generation WITHOUT the self-join (same rewrite as
    // ngramJaccard's inter: the band⋈band equi-join had only
    // #distinct-(band, sig) effective keys — measured 272 keys fanning to
    // 1.58M pair rows at sf0.1, so a handful of tasks did all the work).
    // Per-(band, sig) sorted member array, round-robin spread, chained
    // codegen explodes + b > a: identical pair multiset per band, fully
    // parallel, map-side partial aggregation before the (a, b) exchange.
    // The arrays are the LSH buckets themselves — bounded by the bucket
    // sizes the banding scheme is designed to keep small, and never
    // broadcast, so the plan stays 10^12-corpus safe.
    bands.groupBy($"band", $"sig")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode($"ds").as("a"), $"ds")
      .select($"a", explode($"ds").as("b"))
      .filter($"b" > $"a")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).cast("long").as("n_bands"))
  }

  /** 16-bit SimHash from gram hashes: bit_k set iff sum over grams of
    * (+1 if bit k of h else -1) > 0. Bit test via pure mod arithmetic
    * ((h mod 2^(k+1)) >= 2^k) so the oracle matches exactly. IN-ROW
    * (graft.functions.SimhashBits): the 16 integer counters fold over the
    * document's own gram array, replacing the gram explode + 16-way
    * groupBy(doc_id) aggregation — no exchange at all (guide §2.4). */
  def simhash(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // coalesce: value-inert after the contains-filter (no null text
    // reaches the kernel) — it only restores the non-nullable output
    // schema of the old when/otherwise bit sum, which the driver's
    // schema check pins.
    docs.filter($"text".contains(" "))
      .select($"doc_id", coalesce(Bridge.column(graft.functions.SimhashBits(
        Bridge.expression(TextOps.bigramHashes($"text", distinct = true)), 16)),
        lit(0L)).as("simhash"))
  }

  /** Embedding near-dup pairs with LSH-bucket blocking: candidates = same
    * signed-random-projection bucket (similarity-preserving, unlike r1's
    * id-window block whose recall was a function of row numbering), exact
    * cosine within bucket, pairs with cos >= threshold (a < b). The bucket
    * join shuffles one long per vector; pairwise work is per-bucket — the
    * 10^12-row shape. */
  def embeddingCosine(emb: DataFrame, threshold: Double,
                      nPlanes: Int = 8): DataFrame = {
    import emb.sparkSession.implicits._
    // bucket + norm inline as per-vector projections (no vec_id join-back;
    // the pair stage pays one dot per candidate, never an O(dim) norm)
    val withB = emb.select($"vec_id", $"embedding",
      graft.ann.AnnOps.bucketOf($"embedding", nPlanes).as("bucket"),
      graft.ann.AnnOps.norm($"embedding").as("nrm"))
    val pairs = withB.as("x").join(withB.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        graft.ann.AnnOps.dot(col("x.embedding"), col("y.embedding")).as("dot"),
        col("x.nrm").as("na"), col("y.nrm").as("nb"))
    pairs
      .withColumn("cos", round($"dot" / ($"na" * $"nb"), 4))
      .filter($"cos" >= threshold)
      .select($"a", $"b", $"cos")
  }
}
