package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.synth.SynthImages

/** Image inputs. Every input is written once as parquet under the fixture
  * cache (the image universe once, the numeric inputs once per seed and
  * size), and the engine only ever reads that parquet back; the seed picks
  * the universe's entities. The numeric inputs come from inputs.py. */
object Fixtures {

  /** The image universe the flagship workload and the traced layer probes
    * draw from: entity ids 0..127, frames 0..511 (minus SynthImages'
    * deterministic gaps). Every frame is a pure function of (entity, ts),
    * so per-entity results can be recorded once for the universe. */
  val UniverseEntities = 128
  val UniverseFrames = 512
  val ProbesPerEntity = 64

  /** `k` distinct entity ids of the universe, picked by `seed`, ascending. */
  def pickEntities(seed: Long, k: Int): Seq[Int] =
    new Random(seed).shuffle((0 until UniverseEntities).toList).take(k).sorted

  def entityName(e: Int): String = f"e$e%04d"

  /** Runs `write` unless `path` already holds a complete copy. */
  def cached(path: String)(write: => Unit): Boolean = {
    if (Files.exists(Paths.get(path, "_SUCCESS"))) return false
    write
    true
  }

  private def imagesPath(fx: String) = s"$fx/universe-${UniverseEntities}x$UniverseFrames"
  private def probesPath(fx: String) = s"$fx/probes-${UniverseEntities}x$UniverseFrames"

  /** Renders the whole universe and its probe grid once per fixture cache,
    * the images as one parquet directory per entity (column `e`), so a
    * seed's entities are read by partition pruning instead of being
    * rendered on every run. Returns true when it rendered. */
  def universe(spark: SparkSession, fx: String): Boolean =
    cached(imagesPath(fx)) {
      import spark.implicits._
      // one slice per entity: each task renders and writes one directory
      spark.sparkContext
        .parallelize(0 until UniverseEntities * UniverseFrames, UniverseEntities)
        .flatMap { id =>
          val (e, ts) = (id / UniverseFrames, (id % UniverseFrames).toLong)
          if (SynthImages.framePresent(e, ts, UniverseFrames)) Some((e, SynthImages.rowOf(e, ts)))
          else None
        }
        .toDF("e", "row").select(col("e"), col("row.*"))
        .write.partitionBy("e").mode(SaveMode.Overwrite)
        .parquet(imagesPath(fx))
    } | cached(probesPath(fx)) {
      SynthImages.probes(spark, UniverseEntities, UniverseFrames, ProbesPerEntity)
        .withColumnRenamed("asOfTs", "ts")
        .write.mode(SaveMode.Overwrite).parquet(probesPath(fx))
    }

  /** The synthetic image table (SynthImages schema) restricted to `entities`. */
  def images(spark: SparkSession, fx: String, entities: Seq[Int]): DataFrame = {
    // the entity directories are named directly: discovering all of them
    // costs a listing job on every read
    val root = imagesPath(fx)
    spark.read.option("basePath", root).parquet(entities.map(e => s"$root/e=$e"): _*).drop("e")
  }

  /** The universe's as-of probe grid restricted to `entities`, `ts` named as
    * the frames' time column. */
  def probes(spark: SparkSession, fx: String, entities: Seq[Int]): DataFrame =
    spark.read.parquet(probesPath(fx)).where(col("entity").isin(entities.map(entityName): _*))

  /** Time span of the skewed as-of input (see inputs.py). */
  val Span = 1000000L
}
