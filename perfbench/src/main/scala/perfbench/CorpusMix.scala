package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A fixed subset of the gate queries (`graft.SparkEntry.queries`) over
  * a deterministic generated corpus, run in seeded order. It never
  * touches a Zarr layer; the pipeline, functions and operators packages
  * and Spark's planner and shuffle do the work. */
final class CorpusMix extends Workload {
  val classes = Seq("pipeline", "operators")

  /** (query, class, pinned output rows, pinned output hash) on the
    * generated corpus. */
  val queries: Seq[(String, String, Long, Long)] = Seq(
    ("d11_decontaminate", "pipeline", 21L, 45892208919L),
    ("d9_dedup_spans", "pipeline", 208L, 430105772837L),
    ("d7_dedup_clusters", "pipeline", 249L, 535293558602L),
    ("d3_dedup_minhash", "pipeline", 135L, 291318474913L),
    ("c4_tfidf", "pipeline", 6000L, 12832037299297L),
    ("c5_editdist_pairs", "pipeline", 44L, 88433849532L),
    ("c8_decontaminate", "pipeline", 8L, 14115274919L),
    ("q3_join_agg", "operators", 10L, 17693516850L),
    ("q7_window_rownum", "operators", 3000L, 6423753737574L),
    ("q11_topk", "operators", 10L, 18243565469L))

  /** Input rows each query reads (the corpus tables it scans). */
  def inputRows(q: String): Long = q match {
    case "q3_join_agg" => Corpus.customers + Corpus.orders + Corpus.lineitems
    case "q7_window_rownum" | "q11_topk" => Corpus.lineitems
    case _ => Corpus.documents
  }

  var dir: String = _

  /** The corpus does not depend on the seed, so its answers can be
    * pinned; the seed orders the queries. */
  def setup(spark: SparkSession, d: Path, seed: Long): Unit = {
    Corpus.write(spark, d)
    dir = d.toString
  }

  /** Order-insensitive output fingerprint: row count and the sum of a
    * 32-bit row hash. Floating values are rendered to 8 significant
    * digits so summation-order noise in the last bits cannot move it. */
  def fingerprint(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case FloatType | DoubleType => coalesce(format_string("%.8g", c), lit("\u0000"))
        case _: ArrayType | _: StructType | _: MapType => coalesce(to_json(c), lit("\u0000"))
        case _ => coalesce(c.cast("string"), lit("\u0000"))
      }
    }
    df.agg(count(lit(1)),
      coalesce(sum(xxhash64(concat_ws("\u0001", cols: _*)).bitwiseAND(lit(0xffffffffL))), lit(0L)))
  }

  def round(spark: SparkSession, rec: Recorder, tr: Tracer, rnd: scala.util.Random): Unit =
    rnd.shuffle(queries).foreach { case (q, cls, rows, hash) =>
      rec.run(cls, q) {
        val r = tr.span(s"$cls.$q") {
          val df = tr.span("corpus.build")(graft.SparkEntry.queries(q)(spark, dir))
          Workload.collect(tr, fingerprint(df))(0)
        }
        val got = (r.getLong(0), r.getLong(1))
        if (got != (rows, hash)) System.err.println(s"perfbench: $q got rows=${got._1} hash=${got._2}")
        (inputRows(q), got == (rows, hash))
      }
    }
}

/** Deterministic look-alike of the gate's parquet corpus (same tables
  * and columns the queries read), at 2/5 and 1/3 of sf0.1's document
  * and lineitem counts so a pass fits the run budget: documents over a
  * 31-word vocabulary with seeded exact and near duplicates, and a
  * TPC-H-ish customer / orders / lineitem star. Generated with a fixed
  * seed. */
object Corpus {
  val documents = 2000L
  val customers = 5000L
  val orders = 50000L
  val lineitems = 200000L

  private val vocab = Seq("a", "the", "data", "spark", "query", "scan", "join", "agg", "group",
    "sort", "hash", "key", "value", "row", "column", "table", "filter", "window", "stream",
    "batch", "merge", "part", "line", "order", "customer", "vector", "fast", "slow", "big",
    "small", "index")

  private def h(cols: Column*): Column = xxhash64(lit(42L) +: cols: _*)
  private def pick(n: Long, cols: Column*): Column = pmod(h(cols: _*), lit(n))

  def write(spark: SparkSession, dir: Path): Unit = {
    val out = (t: String) => dir.resolve(s"$t.parquet").toString
    val id = col("id")
    val words = array(vocab.map(lit): _*)

    // a document copies an earlier one exactly (1 in 600) or with one
    // word replaced (1 in 40); otherwise it is fresh text
    val kind = pick(600, id, lit("kind"))
    val base = when(kind === 1 && id >= 7, id - 7)
      .when(kind % 15 === 2 && id >= 20, id - 1 - pick(19, id, lit("src")))
      .otherwise(id)
    val nWords = (lit(8) + pick(93, col("base"), lit("len"))).cast("int")
    val text = spark.range(documents).select(id.as("doc_id"), base.as("base"), kind.as("kind"))
      .select(col("doc_id"), col("kind"),
        transform(sequence(lit(1), nWords), k =>
          when(col("kind") % 15 === 2 && k === pick(5, col("doc_id"), lit("pos")).cast("int") + 1,
            element_at(words, (pick(31, col("doc_id"), lit("rep")) + 1).cast("int")))
            .otherwise(element_at(words, (pick(31, col("base"), k) + 1).cast("int")))).as("w"))
      .select(col("doc_id"), concat_ws(" ", col("w")).as("text"))
    val langs = array(Seq("en", "en", "en", "en", "zh", "es", "fr", "de").map(lit): _*)
    text.select(col("doc_id"), col("text"),
      element_at(langs, (pick(8, col("doc_id"), lit("lang")) + 1).cast("int")).as("lang"),
      concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.parquet(out("documents"))

    val segments = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*)
    spark.range(1, customers + 1).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(25, id, lit("nation")).cast("int").as("c_nationkey"),
      (pick(1100000, id, lit("bal")) / 100.0 - 999.99).as("c_acctbal"),
      element_at(segments, (pick(5, id, lit("seg")) + 1).cast("int")).as("c_mktsegment"))
      .coalesce(1).write.parquet(out("customer"))

    val day0 = to_timestamp(lit("1992-01-01 00:00:00"))
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    spark.range(1, orders + 1).select(id.as("o_orderkey"),
      (pick(customers, id, lit("cust")) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (pick(3, id, lit("st")) + 1).cast("int")).as("o_orderstatus"),
      (pick(50000000, id, lit("price")) / 100.0 + 800.0).as("o_totalprice"),
      timestamp_seconds(unix_timestamp(day0) + pick(2405, id, lit("date")) * 86400).as("o_orderdate"),
      element_at(prios, (pick(5, id, lit("prio")) + 1).cast("int")).as("o_orderpriority"))
      .coalesce(1).write.parquet(out("orders"))

    val ok = (id / 4 + 1).as("l_orderkey")
    spark.range(lineitems).select(ok, (id % 4 + 1).cast("int").as("l_linenumber"), id.as("lid"))
      .select(col("l_orderkey"),
        (pick(20000, col("lid"), lit("part")) + 1).as("l_partkey"),
        (pick(1000, col("lid"), lit("supp")) + 1).as("l_suppkey"),
        col("l_linenumber"),
        (pick(50, col("lid"), lit("qty")) + 1).cast("double").as("l_quantity"),
        (pick(10000000, col("lid"), lit("ext")) / 100.0 + 900.0).as("l_extendedprice"),
        (pick(11, col("lid"), lit("disc")) / 100.0).as("l_discount"),
        (pick(9, col("lid"), lit("tax")) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (pick(3, col("lid"), lit("rf")) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (pick(2, col("lid"), lit("ls")) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(unix_timestamp(day0) +
          (pick(2405, col("l_orderkey"), lit("date")) + 1 + pick(121, col("lid"), lit("ship"))) * 86400)
          .as("l_shipdate"))
      .coalesce(1).write.parquet(out("lineitem"))
  }
}
