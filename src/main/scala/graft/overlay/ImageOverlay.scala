package graft.overlay

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.images.ImageCodec

/** Raster <-> vector overlay (J10 / U17, the graft payload stage mandated by
  * BASELINE.json's north_star): image tiles are keyed by grid cell; matched
  * shapes are expanded to the set of cells they traverse; assignment is a
  * plain equi-join on cell.
  *
  * Scale discipline (SURVEY §7.3): the BINARY column never flows through the
  * matcher or the join — only the (image_id, cell, phash) projection joins
  * with geometry; bytes are touched solely in the verification stage, which
  * is a narrow map over the images table (no shuffle of bytes). At 10^12
  * images the join is shuffle-on-cell with the shape-cells side broadcast
  * (it is bounded by the road network, not by the image count). */
object ImageOverlay {

  /** Cells traversed by each shape: gcell per point, distinct.
    * shapes(shape_id, seq, lat, lng). */
  def shapeCells(shapes: DataFrame, res: Int): DataFrame = {
    import shapes.sparkSession.implicits._
    shapes.select($"shape_id", gcell($"lat", $"lng", res).as("cell")).distinct()
  }

  /** Tile cell from the tile key (image_id = "tile_<cell>_<k>", the
    * z/x/y-style georeference). Only the light projection of the images
    * table is used here — no bytes. */
  def tileCells(images: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    images.select($"image_id", $"phash",
      split($"image_id", "_").getItem(1).cast("long").as("cell"))
  }

  /** Raster->vector assignment: tile cell joined against shape cells.
    * Output: (image_id, shape_id, cell, phash).
    *
    * Join shape: the (shape_id, cell) table scales with TRIP COUNT, so it
    * must never be broadcast (at tpr=3600 it is ~4M rows and the broadcast
    * build was a 40 s driver-bound stall; at 10^8 trips it would OOM the
    * driver). What IS bounded by the road network is the distinct CELL
    * set — that small set broadcasts as a semi-join prune so the 10^12-row
    * images side narrows to the tiles a shape actually touches before the
    * shuffle equi-join on cell produces the pairs. */
  def assign(images: DataFrame, shapes: DataFrame, res: Int): DataFrame = {
    import images.sparkSession.implicits._
    // the (shape_id, cell) set feeds BOTH the broadcast cell prune and the
    // pair join; without the boundary the gcell+distinct shuffle over
    // every shape point runs twice per action
    val sc = graft.plans.Boundary.lazily(shapeCells(shapes, res))
    val liveCells = broadcast(sc.select($"cell").distinct())
    tileCells(images)
      .join(liveCells, Seq("cell"))
      .join(sc, Seq("cell"))
      .select("image_id", "shape_id", "cell", "phash")
  }

  /** Payload verification stage (input_hint invariant): decode bytes,
    * re-synthesize the reference pixels from the tile's deterministic seed,
    * check PSNR (>= 40 dB lossy, infinite for PNG), recompute phash and
    * caption. Returns per-row verdict columns; no shuffle. */
  def verify(spark: SparkSession, images: DataFrame, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val verifyUdf = udf((imageId: String, bytes: Array[Byte], w: Int, h: Int,
                         fmt: String, caption: String, phash: Long) => {
      val (px, dw, dh) = ImageCodec.decode(bytes)
      if (px == null) (false, 0.0, false, false)
      else {
        val cell = graft.images.ImageFixtures.cellOfTileId(imageId)
        val k = imageId.split("_")(2).toLong
        val ref = ImageCodec.genPixels(seed ^ cell ^ k, w, h)
        val p = if (dw == w && dh == h) ImageCodec.psnr(ref, px) else 0.0
        val psnrOk = if (fmt == "png") p.isInfinite else p >= 40.0
        val hashOk = ImageCodec.hammingDist(ImageCodec.avgHash64(px, dw, dh), phash) <= 2
        val captionOk = caption != null && caption.startsWith(imageId + ":")
        (psnrOk, if (p.isInfinite) 999.0 else p, hashOk, captionOk)
      }
    })
    images.withColumn("v", verifyUdf($"image_id", $"bytes", $"w", $"h",
        $"fmt", $"caption", $"phash"))
      .select($"image_id", $"fmt",
        $"v._1".as("psnr_ok"), $"v._2".as("psnr_db"),
        $"v._3".as("phash_ok"), $"v._4".as("caption_ok"))
  }
}

/** Multimodal column ops over the opaque binary column: decode -> resize /
  * thumbnail / feature-extract, as batched UDF stages (the Scala analog of
  * mapInPandas plumbing; decode is REAL via javax.imageio). The binary
  * column flows through exactly one narrow stage — no shuffle. */
object ImageTransforms {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._
  import graft.images.ImageCodec

  /** bytes -> PNG thumbnail bytes at (tw, th). */
  def thumbnail(df: DataFrame, tw: Int, th: Int): DataFrame = {
    val thumbUdf = udf((bytes: Array[Byte]) => {
      val (px, w, h) = ImageCodec.decode(bytes)
      if (px == null) null else ImageCodec.encodePng(ImageCodec.resize(px, w, h, tw, th), tw, th)
    })
    df.withColumn("thumb", thumbUdf(col("bytes")))
  }

  /** bytes -> 18-dim feature vector (4x4 luma grid + mean/std). */
  def features(df: DataFrame): DataFrame = {
    val featUdf = udf((bytes: Array[Byte]) => {
      val (px, w, h) = ImageCodec.decode(bytes)
      if (px == null) null else ImageCodec.featureVector(px, w, h)
    })
    df.withColumn("features", featUdf(col("bytes")))
  }
}
