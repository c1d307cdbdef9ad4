package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>`.
  *
  * One process, Spark `local[N]` with N = the processors this JVM may
  * use, one closed-loop client thread. Set-up (session start plus data
  * generation) runs three times and reports the median. One untimed
  * round follows, so class loading, plan code generation and JIT
  * compilation are paid once, as in a long-running session (its ops are
  * checked and counted like timed ones); then whole rounds of the
  * workload's op mix run until `--seconds` have passed, at least two. The last stdout line is the
  * result object; `--out` receives an artifact with the machine stamp
  * and every detail. With `--trace 1` the loop is traced, a Spark
  * listener records engine counters, the layer probes run, and the
  * result carries the per-layer metrics instead. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, out: Path)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(need("workload"), need("seed").toLong, seconds, trace,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath)
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  def hostCores(): Int = {
    val n = try Files.readAllLines(Paths.get("/proc/cpuinfo")).asScala.count(_.startsWith("processor"))
      catch { case _: Exception => 0 }
    if (n > 0) n else Runtime.getRuntime.availableProcessors()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the stamp's `cores` must be the width Spark really runs at
    require(spark.sparkContext.defaultParallelism == cores,
      s"Spark runs ${spark.sparkContext.defaultParallelism} task slots, expected local[$cores]")
    spark
  }


  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def metric(v: Double, unit: String): ListMap[String, Any] = ListMap("value" -> v, "unit" -> unit)

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parseArgs(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace(System.err)
          2
      }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = HeapPeak.install()
    val workload = Workload.byName(a.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    require(cores >= 1, s"invalid core count $cores")
    val loadStart = loadavg()
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)

    // set-up: session start + data generation, three times; the first
    // is measured from JVM start, the others restart the session. A
    // traced run reports no set-up time and sets up once.
    var spark: SparkSession = null
    val setups = ArrayBuffer.empty[Double]
    (0 until (if (a.trace) 1 else 3)).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 0) jvmStartMs * 1000000L - (System.currentTimeMillis() * 1000000L - System.nanoTime())
        else System.nanoTime()
      spark = session(cores, a.work)
      val dir = a.work.resolve(s"inputs$i")
      workload.setup(spark, dir, a.seed)
      setups += (System.nanoTime() - t0) / 1e9
      heap.sampleLive()
      if (i > 0) deleteTree(a.work.resolve(s"inputs${i - 1}"))
    }
    System.err.println(f"perfbench: ${a.workload} set-up ${setups.map(s => f"$s%.2f").mkString(" ")} s")

    val rnd = new scala.util.Random(a.seed)
    val warm = new Recorder
    workload.round(spark, warm, new Tracer(false), rnd)

    val tracer = new Tracer(a.trace)
    val listener = if (a.trace) Some(EngineListener.register(spark)) else None
    val rec = new Recorder
    val passes = ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    // whole rounds, at least two so `pass_s` is a median of passes
    while (passes.length < 2 || (System.nanoTime() - loop0) / 1e9 < a.seconds) {
      val p0 = System.nanoTime()
      tracer.op = passes.length.toLong
      tracer.span(s"round.${a.workload}")(workload.round(spark, rec, tracer, rnd))
      passes += (System.nanoTime() - p0) / 1e9
      heap.sampleLive()
    }
    listener.foreach(_.stop())

    val attempted = warm.attempted + rec.attempted
    val failed = warm.failed + rec.failed
    val correct = failed == 0 && rec.all.nonEmpty
    (warm.failures ++ rec.failures).foreach(f => System.err.println(s"perfbench: FAILED $f"))

    val all = rec.all
    val tail = if (all.nonEmpty) Stats.tail(all) else Stats.Tail(0, 0, 0, 0)
    val e2e = ListMap(
      "setup_s" -> metric(Stats.median(setups.toSeq), "s"),
      "pass_s" -> metric(Stats.median(passes.toSeq), "s"),
      "op_p50_s" -> metric(if (all.nonEmpty) Stats.median(all) else 0.0, "s"),
      "op_tail_s" -> metric(tail.value, "s"),
      // over the rounds' own time: the heap samples between rounds
      // (collections and a sleep) are the benchmark's, not the program's
      "rows_per_s" -> metric(rec.rows / passes.sum, "rows/s"),
      "mem_peak_mb" -> metric(heap.liveMb, "MB"))
    val classP50 = ListMap(workload.classes.filter(rec.of(_).nonEmpty).map { c =>
      s"${c}_p50_s" -> metric(Stats.median(rec.of(c)), "s")
    }: _*)

    val layer: ListMap[String, Any] =
      if (!a.trace) ListMap.empty
      else LayerProbes.run(spark, a, tracer, listener.get, rec, workload)
    val loadEnd = loadavg()
    val metrics = if (a.trace) layer else e2e
    val result = Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)

    val artifact = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> (if (a.trace) 1 else 0),
      "cores" -> cores, "host_cores" -> hostCores(), "load_start" -> loadStart, "load_end" -> loadEnd,
      "result" -> result, "end_to_end" -> e2e, "classes" -> classP50,
      "op_tail" -> Json.obj("value_s" -> tail.value, "percentile" -> tail.percentile,
        "beyond" -> tail.beyond, "samples" -> tail.samples),
      "heap_transient_peak_mb" -> heap.transientMb,
      "setups_s" -> setups.toSeq, "passes_s" -> passes.toSeq,
      "failures" -> (warm.failures ++ rec.failures).toSeq,
      "ops" -> rec.log.map { case (c, l, t) => Seq(c, l, t) },
      "layers" -> layer,
      "self_ms" -> ListMap(Tracer.selfByName(tracer.spans).toSeq.sortBy(-_._2)
        .map { case (n, ns) => n -> ns / 1e6 }: _*),
      "spans" -> tracer.spans.map(s => Seq(s.id, s.name, s.parent, s.op, s.startNs, s.endNs)))
    val name = s"${a.workload}_seed${a.seed}_trace${if (a.trace) 1 else 0}.json"
    Files.write(a.out.resolve(name), Json.render(artifact).getBytes("UTF-8"))

    System.err.println(f"perfbench: ${a.workload} ${passes.length} rounds, ${rec.attempted} ops, " +
      f"tail p${tail.percentile}%.1f over ${tail.samples} samples (${tail.beyond} beyond); " +
      classP50.map { case (k, v) => f"$k=${v("value").asInstanceOf[Double]}%.4f" }.mkString(" "))
    spark.stop()
    deleteTree(a.work)
    println(Json.render(result))
    if (correct) 0 else 1
  }
}
