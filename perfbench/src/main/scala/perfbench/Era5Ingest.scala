package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fresh Zarr writes of seeded ERA5-resolution slabs through
  * `df.write.format("zarr")` and outer-slab appends through
  * `ZarrWriter.append`, each verified by a read-back whose row count
  * and order-insensitive checksum must equal the input's. */
final class Era5Ingest extends Workload {
  val classes = Seq("write", "append")

  // A 45° × 90° region of the 0.25° ERA5 grid, two hybrid levels: a
  // full 721 × 1440 plane takes 12-16 s per write on 4 cores, which
  // leaves no room for a round in one run.
  val nh = 2
  val nlat = 181
  val nlon = 360

  /** Store layouts written fresh each round. Appends are not supported
    * on sharded stores, so the v3 layout is written and read back only. */
  val configs: Seq[(String, Map[String, String], Boolean)] = Seq(
    ("v2_none", Map("compressor" -> "none"), true),
    ("v2_blosc", Map("compressor" -> "blosc"), true),
    ("v2_zstd", Map("compressor" -> "zstd"), true),
    ("v3_sharded_zstd", Map("zarrVersion" -> "3", "shardInner" -> "1", "shardCompress" -> "zstd"), false))

  val coords = Seq("time", "hybrid", "latitude", "longitude")

  val slabRows: Long = nh.toLong * nlat * nlon

  /** Two consecutive time steps, cached, with each one's (rows, checksum). */
  var slabs: Seq[DataFrame] = Nil
  var sums: Seq[(Long, Long)] = Nil
  var dir: Path = _
  private var serial = 0

  /** One time step of the grid, values drawn from the seed. */
  def slab(spark: SparkSession, seed: Long, t: Int): DataFrame = {
    val id = col("id")
    val i = (id / nlon).cast("long") % nlat
    val noise = (salt: Int) => pmod(xxhash64(lit(seed), lit(salt), lit(t), id), lit(32L))
    spark.range(slabRows).select(
      lit(1095744L + t).as("time"),
      (lit(135.0) + (id / (nlat * nlon)).cast("long")).as("hybrid"),
      (lit(90.0) - i * 0.25).as("latitude"),
      ((id % nlon) * 0.25).as("longitude"),
      (lit(50000L) + (i + (id % nlon) * 2) % 500 * 10 + noise(0)).cast("float").as("geopotential"),
      (lit(220L) + i * 80 / nlat + t + noise(1) % 16).cast("float").as("temperature"))
  }

  def checksum(df: DataFrame): Column =
    sum(xxhash64(df.columns.sorted.map(col): _*).bitwiseAND(lit(0xffffffffL)))

  private def rowsAndSum(df: DataFrame, tr: Tracer): (Long, Long) = {
    val r = Workload.collect(tr, df.agg(count(lit(1)), checksum(df)))(0)
    (r.getLong(0), r.getLong(1))
  }

  def setup(spark: SparkSession, d: Path, seed: Long): Unit = {
    dir = d
    Files.createDirectories(d)
    slabs = (0 until 2).map(t => slab(spark, seed, t).cache())
    sums = slabs.map(s => rowsAndSum(s, new Tracer(false)))
  }

  /** Write and append are the timed ops; the read-back verifies them,
    * so a wrong read-back fails both and neither becomes a sample. */
  def round(spark: SparkSession, rec: Recorder, tr: Tracer, rnd: scala.util.Random): Unit =
    rnd.shuffle(configs).foreach { case (cfg, opts, appendable) =>
      serial += 1
      val path = dir.resolve(s"${cfg}_$serial").toString
      val (wrote, writeS) = Recorder.timed(tr.span(s"ZarrWriter.write.$cfg") {
        slabs(0).write.format("zarr").option("coords", coords.mkString(",")).options(opts).save(path)
      })
      val (appended, appendS) =
        if (appendable && wrote.isRight)
          Recorder.timed(tr.span("ZarrWriter.append")(graft.sources.zarr.ZarrWriter.append(slabs(1), path)))
        else (Right(()), 0.0)
      val expect = if (appendable) sums.reduce((a, b) => (a._1 + b._1, a._2 + b._2)) else sums(0)
      val check: Option[String] = (wrote, appended) match {
        case (Left(e), _) => Some(e)
        case (_, Left(e)) => Some(e)
        case _ =>
          Recorder.timed(rowsAndSum(spark.read.format("zarr").load(path), tr))._1 match {
            case Right(got) if got == expect => None
            case Right(got) => Some(s"read-back rows/checksum $got, expected $expect")
            case Left(e) => Some(s"read-back: $e")
          }
      }
      rec.record("write", cfg, writeS, slabRows, check)
      if (appendable) rec.record("append", cfg, appendS, slabRows, check)
      Main.deleteTree(java.nio.file.Paths.get(path))
    }
}
