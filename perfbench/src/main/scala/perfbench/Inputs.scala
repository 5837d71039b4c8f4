package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gen.SyntheticImages
import graft.gen.SyntheticImages.Plant

/** Seeded inputs. The seed selects a window of the generator's row index
  * space; every value is a pure function of the index, so the same seed
  * always gives the same tables. The library only ever sees the generated
  * tables.
  */
object Inputs {

  /** Content pool of the image generator: at most this many distinct
    * images are encoded per process.
    */
  val ContentPool = 4096

  /** First row index of the seed's window. */
  def windowBase(seed: Long): Long = Math.floorMod(seed, 1000003L) * 1000003L

  /** Image rows [from, from + n) with encoded `bytes`, in `parts` tasks. */
  def images(spark: SparkSession, from: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, parts).as[Long]
      .mapPartitions(_.map(i => SyntheticImages.rowOf(i, false, ContentPool)))
      .toDF()
  }

  def writeImages(spark: SparkSession, from: Long, n: Long, parts: Int, path: String): Unit =
    images(spark, from, n, parts).write.mode("overwrite").parquet(path)

  /** Constraint groups of `ImageConstraints.v1` that row `i` violates,
    * derived from the planted-anomaly predicates alone (no pixel checks,
    * so no row is an engine error). 0 means the row is valid.
    */
  def violatedGroups(i: Long): Int = {
    val id = Plant.nullId(i) || (!Plant.dupId(i) && Plant.badPatternId(i))
    val caption = Plant.nullCaption(i) || Plant.emptyCaption(i)
    val fmt = !Plant.nullFmt(i) && Plant.badFmt(i) // a null fmt is default-filled
    val w = Plant.bigW(i) || Plant.zeroW(i)
    val h = Plant.negH(i)
    Seq(id, caption, fmt, w, h).count(identity)
  }

  /** Expected (valid rows, invalid rows, violation rows) of a window. */
  final case class Expected(valid: Long, invalid: Long, violations: Long)

  def expected(from: Long, n: Long): Expected = {
    var v = 0L; var bad = 0L; var vio = 0L
    var i = from
    while (i < from + n) {
      val g = violatedGroups(i)
      if (g == 0) v += 1 else { bad += 1; vio += g }
      i += 1
    }
    Expected(v, bad, vio)
  }

  // ------------------------------------------------------ captions side ----

  private def imageIdOf(i: Long): String =
    if (Plant.nullId(i)) null
    else if (Plant.dupId(i)) SyntheticImages.idOf(i - 1)
    else if (Plant.badPatternId(i)) s"not-a-uuid-$i"
    else SyntheticImages.idOf(i)

  /** Caption rows of the window: one per image except planted orphans
    * (and null ids), plus the planted dangling captions.
    */
  def captionIds(from: Long, n: Long): Seq[String] =
    (from until from + n).flatMap { i =>
      val own = if (Plant.orphanImage(i) || Plant.nullId(i)) Nil else List(imageIdOf(i))
      own ++ (if (Plant.danglingCaption(i)) List(s"dangling-$i") else Nil)
    }

  def writeCaptions(spark: SparkSession, from: Long, n: Long, path: String): Unit = {
    import spark.implicits._
    captionIds(from, n).map(id => (id, s"caption of $id")).toDF("image_id", "caption")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** (orphan image rows, dangling caption rows) of the window, computed
    * with driver-side sets — the independent answer to
    * `Referential.check`.
    */
  def expectedReferential(from: Long, n: Long): (Long, Long) = {
    val imageIds = (from until from + n).map(imageIdOf).filter(_ != null)
    val caps = captionIds(from, n)
    val capSet = caps.toSet
    val imgSet = imageIds.toSet
    (imageIds.count(id => !capSet(id)).toLong, caps.count(id => !imgSet(id)).toLong)
  }
}
