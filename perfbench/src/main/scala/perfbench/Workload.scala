package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `setup` generates the inputs from the seed
  * (the program only ever sees the generated files); `round` runs one
  * pass of the op mix through `rec`, so a failed or wrong op is counted
  * and never timed as a success. */
trait Workload {
  def setup(spark: SparkSession, dir: Path, seed: Long): Unit
  def round(spark: SparkSession, rec: Recorder, tr: Tracer, rnd: scala.util.Random): Unit

  /** Per-class latency medians reported next to the end-to-end metrics,
    * named `<class>_p50_s`. */
  def classes: Seq[String]
}

object Workload {
  def byName(name: String): Workload = name match {
    case "era5_scan" => new Era5Scan
    case "era5_ingest" => new Era5Ingest
    case "corpus_mix" => new CorpusMix
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (era5_scan, era5_ingest, corpus_mix)")
  }

  /** Plan, then execute, a DataFrame action under two spans, so a traced
    * run splits planning (analysis, optimisation, physical planning)
    * from execution without running the query twice (the action reuses
    * the planned QueryExecution). */
  def collect(tr: Tracer, df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    tr.span("spark.plan")(df.queryExecution.executedPlan)
    tr.span("spark.exec")(df.collect())
  }
}
