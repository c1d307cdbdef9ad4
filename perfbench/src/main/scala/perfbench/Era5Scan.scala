package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Read-only SQL over three copies of one seeded ERA5-shaped grid (v2
  * raw, v2 blosc-lz4 in (1,1,181,360) blocks, v3 sharded zstd). Every
  * answer is checked against plain-Scala arithmetic over the generated
  * planes, so the three copies must agree with each other too. */
final class Era5Scan extends Workload {
  val classes = Seq("full_scan", "pruned_scan", "meta_agg", "cached_slice")

  /** Below the blosc copy's 192 chunk objects: a plane is 32 of them,
    * so three of the six planes stay cached and a repeat read sees a
    * mix of hits and misses. */
  val cacheEntries = 96

  var grid: Era5Grid = _
  var dir: Path = _

  def setup(spark: SparkSession, d: Path, seed: Long): Unit = {
    grid = new Era5Grid(seed)
    dir = d
    Era5Grid.writeCopies(grid, d)
    registerViews(spark)
  }

  def registerViews(spark: SparkSession): Unit = {
    Era5Grid.copies.foreach { c =>
      spark.read.format("zarr").load(dir.resolve(c).toString).createOrReplaceTempView(c)
    }
    spark.read.format("zarr").option("chunkCacheEntries", cacheEntries.toString)
      .load(dir.resolve("v2_blosc").toString).createOrReplaceTempView("v2_blosc_cached")
  }

  private def sumOf(r: Row, i: Int): Double = r.getDouble(i)
  private def eqSum(r: Row, i: Int, expect: Long): Boolean = !r.isNullAt(i) && sumOf(r, i) == expect.toDouble

  def round(spark: SparkSession, rec: Recorder, tr: Tracer, rnd: scala.util.Random): Unit = {
    val g = grid
    val ops: Seq[() => Unit] = Era5Grid.copies.flatMap { c =>
      Seq[() => Unit](
        () => {
          val v = rnd.nextInt(2)
          rec.run("full_scan", s"$c sum(${g.vars(v)})") {
            val r = Workload.collect(tr, spark.sql(s"SELECT sum(${g.vars(v)}) FROM $c"))
            (g.totalRows, r.length == 1 && eqSum(r(0), 0, g.total(v)))
          }
        },
        () => rec.run("full_scan", s"$c group by time, hybrid") {
          val r = Workload.collect(tr, spark.sql(
            s"SELECT time, hybrid, sum(geopotential), sum(temperature), count(*) FROM $c GROUP BY time, hybrid"))
          val ok = r.length == g.nt * g.nh && r.forall { row =>
            val t = (row.getLong(0) - g.times(0)).toInt
            val h = (row.getDouble(1) - g.hybrids(0)).toInt
            t >= 0 && t < g.nt && h >= 0 && h < g.nh &&
              eqSum(row, 2, g.planeSum(0, t, h)) && eqSum(row, 3, g.planeSum(1, t, h)) &&
              row.getLong(4) == g.planeCells
          }
          (g.totalRows, ok)
        },
        () => {
          val t = rnd.nextInt(g.nt); val h = rnd.nextInt(g.nh)
          rec.run("pruned_scan", s"$c slice t=$t h=$h") {
            val r = Workload.collect(tr, spark.sql(
              s"SELECT count(temperature), sum(temperature) FROM $c " +
                s"WHERE time = ${g.times(t)} AND hybrid = ${g.hybrids(h)}"))
            // 1,038,240 of 6,229,440 rows on the reference shape
            (g.planeCells.toLong, r.length == 1 && r(0).getLong(0) == g.planeCells &&
              eqSum(r(0), 1, g.planeSum(1, t, h)))
          }
        },
        () => rec.run("pruned_scan", s"$c latitude band") {
          val (i0, i1) = (g.lats.indexWhere(_ <= 45.0), g.lats.lastIndexWhere(_ >= 0.0))
          val rows = g.nt.toLong * g.nh * (i1 - i0 + 1) * g.nlon
          val r = Workload.collect(tr, spark.sql(
            s"SELECT count(*), sum(geopotential) FROM $c WHERE latitude BETWEEN 0 AND 45"))
          (rows, r.length == 1 && r(0).getLong(0) == rows && eqSum(r(0), 1, g.latBandSum(0, i0, i1)))
        },
        () => {
          val n = 100 + rnd.nextInt(4900)
          rec.run("pruned_scan", s"$c limit $n") {
            val r = Workload.collect(tr, spark.sql(
              s"SELECT time, hybrid, latitude, longitude, geopotential, temperature FROM $c LIMIT $n"))
            (n.toLong, r.length == n && r.forall(checkCell))
          }
        },
        () => rec.run("meta_agg", s"$c count") {
          val r = Workload.collect(tr, spark.sql(s"SELECT count(*) FROM $c"))
          (0L, r.length == 1 && r(0).getLong(0) == g.totalRows)
        },
        () => rec.run("meta_agg", s"$c coordinate min/max") {
          val r = Workload.collect(tr, spark.sql(
            s"SELECT min(time), max(time), min(latitude), max(latitude), min(longitude), max(longitude) FROM $c"))
          (0L, r.length == 1 && r(0).getLong(0) == g.times.head && r(0).getLong(1) == g.times.last &&
            r(0).getDouble(2) == g.lats.min && r(0).getDouble(3) == g.lats.max &&
            r(0).getDouble(4) == g.lons.min && r(0).getDouble(5) == g.lons.max)
        })
    } ++ Seq.fill(2)(() => cachedSlice(spark, rec, tr, rnd))
    rnd.shuffle(ops).foreach(_.apply())
  }

  def cachedSlice(spark: SparkSession, rec: Recorder, tr: Tracer, rnd: scala.util.Random): Unit = {
    val g = grid
    val t = rnd.nextInt(g.nt); val h = rnd.nextInt(g.nh)
    rec.run("cached_slice", s"v2_blosc_cached t=$t h=$h") {
      val r = Workload.collect(tr, spark.sql(
        s"SELECT sum(geopotential), sum(temperature) FROM v2_blosc_cached " +
          s"WHERE time = ${g.times(t)} AND hybrid = ${g.hybrids(h)}"))
      (g.planeCells.toLong, r.length == 1 && eqSum(r(0), 0, g.planeSum(0, t, h)) &&
        eqSum(r(0), 1, g.planeSum(1, t, h)))
    }
  }

  /** A returned cell matches the generator at its coordinates. */
  private def checkCell(row: Row): Boolean = {
    val g = grid
    val t = (row.getLong(0) - g.times(0)).toInt
    val h = math.round(row.getDouble(1) - g.hybrids(0)).toInt
    val i = math.round((90.0 - row.getDouble(2)) / 0.25).toInt
    val j = math.round(row.getDouble(3) / 0.25).toInt
    t >= 0 && t < g.nt && h >= 0 && h < g.nh && i >= 0 && i < g.nlat && j >= 0 && j < g.nlon &&
      g.lats(i) == row.getDouble(2) && g.lons(j) == row.getDouble(3) &&
      row.getFloat(4) == g.at(0, t, h, i, j) && row.getFloat(5) == g.at(1, t, h, i, j)
  }
}
