package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Queries

/** The `gates` workload: a fixed subset of the query inventory over the
  * bundled parquet fixture, in a `graft.Bench`-configured session. One
  * cold pass (planning and codegen included), then warm passes until
  * `--seconds` have passed since the cold pass began (at least two:
  * per gate the faster of two warm runs is much steadier than one).
  * A gate run is timed from the gate's plan to its collected rows; the
  * rows are then checked, untimed, against the recorded row count and
  * content hash.
  */
object Gates {

  /** One or two gates per family: the BMP reference surface (pricing
    * aggregate, CDC changes), ANN top-k, simhash near-dup, BM25
    * retrieval and the k-truss peel loop. Sized so that a cold and a
    * warm pass fit one run of the benchmark.
    */
  val Subset: Seq[String] = Seq(
    "q01_pricing_agg", "q12_t1_cdc_changes", "q28_ann_cosine_topk",
    "q30_dd_simhash", "q97_ret_bm25_topk", "q351_g_ktruss")

  val WarmUp = "q09_w1_latest_per_key"
  val MinWarmPasses = 2

  private val Bmp = "^q\\d+_(j\\d|m\\d+|t\\d|a[1-9]|w\\d|f\\d*|r1|d1|u\\d|s2|asof|pricing)(_|$)".r
  def family(name: String): String =
    if (Bmp.findFirstIn(name).isDefined) "bmp"
    else if (name.contains("_ann_")) "ann"
    else if (name.contains("_dd_")) "dedup"
    else if (name.contains("_g_")) "graph"
    else "other"

  /** `graft.Bench`'s session settings. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Row count and an order-insensitive content hash: the sum over rows
    * of a 31-bit hash of the row's JSON rendering.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(to_json(struct(col("*")))), lit(Int.MaxValue.toLong)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** [[digest]] of collected rows (a local relation of the same schema). */
  def digest(spark: SparkSession, rows: (Array[Row], StructType)): (Long, Long) =
    digest(spark.createDataFrame(rows._1.toSeq.asJava, rows._2))

  /** A gate's rows: the part of a gate run that is timed. */
  def collect(q: Queries.Q, spark: SparkSession, data: String): (Array[Row], StructType) = {
    val df = q.run(spark, data)
    (df.collect(), df.schema)
  }

  def readExpected(p: Path): Map[String, (Long, Long)] =
    Files.readAllLines(p, UTF_8).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> (f(1).toLong, f(2).toLong) }.toMap

  private def byName(names: Seq[String]): Seq[Queries.Q] = {
    val all = Queries.all.map(q => q.name -> q).toMap
    names.map(n => all.getOrElse(n, sys.error(s"no gate named $n in graft.Queries.all")))
  }

  /** Seeded order of the subset: the seed is the workload's input. */
  def order(seed: Long): Seq[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val a = Subset.toArray
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  def run(o: Opts): Map[String, Any] = {
    val expected = readExpected(o.expected)
    val gates = byName(order(o.seed))
    val data = o.data.toString

    // set-up, once per run: session start + Bench's untimed warm-up (a
    // nation self-join, then one inventory gate outside the subset, so
    // the timed passes do not absorb first-query costs)
    val s0 = System.nanoTime()
    val spark = session(o.cpus)
    val w = spark.read.parquet(s"$data/nation.parquet")
    w.join(w.groupBy("n_regionkey").count(), Seq("n_regionkey")).count()
    digest(spark, collect(byName(Seq(WarmUp)).head, spark, data))
    spark.catalog.clearCache()
    val setupS = (System.nanoTime() - s0) / 1e9
    Memory.checkpoint()
    val layers = if (o.trace) Some(Trace.install(spark)) else None

    val runs = ArrayBuffer.empty[Seq[Any]]
    def pass(p: Int): Unit = gates.foreach { q =>
      val cg0 = Codegen.mark()
      val s = System.currentTimeMillis()
      val ns = System.nanoTime()
      def error(e: Throwable): Either[String, Nothing] =
        Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      val out = try Right(collect(q, spark, data)) catch { case e: Throwable => error(e) }
      val e = s + (System.nanoTime() - ns) / 1e6
      val cg = Codegen.deltaMs(cg0, Codegen.mark())
      val (rows, hash, err) = out.flatMap(o => try Right(digest(spark, o)) catch { case e: Throwable => error(e) })
        .fold(err => (-1L, -1L, err), { case (n, h) => (n, h, "") })
      val ok = err.isEmpty && expected.get(q.name).contains((rows, hash))
      runs += Seq(q.name, family(q.name), p, s, e, cg, ok, rows, hash, err)
      spark.catalog.clearCache() // operators may persist() intermediates
      System.gc()
    }
    val start = System.currentTimeMillis()
    pass(0)
    Memory.checkpoint()
    var p = 1
    while (p <= MinWarmPasses || (p <= 6 && System.currentTimeMillis() - start < o.seconds * 1000L)) {
      pass(p); p += 1
    }
    Memory.checkpoint()
    layers.foreach(_ => org.apache.spark.BenchListenerDrain(spark.sparkContext))
    val out = Map("setup_s" -> setupS, "gate_runs" -> runs.toSeq, "t0_ms" -> start,
      "window_end_ms" -> System.currentTimeMillis()) ++ layers.map(Trace.dump).getOrElse(Map.empty)
    spark.stop()
    out
  }

  /** Runs every subset gate once (the build's class-loading run). */
  def train(o: Opts): Unit = {
    val spark = session(o.cpus)
    byName(WarmUp +: Subset).foreach(q => digest(spark, collect(q, spark, o.data.toString)))
    spark.stop()
  }

  /** Records the expected digests: each subset gate's live output, as a
    * plan and as collected rows, must digest the same as its dump in
    * `dumpDir` (the parquet a graded correctness run wrote), and that
    * digest is written to `to`.
    */
  def record(o: Opts, dumpDir: Path, to: Path): Unit = {
    val spark = session(o.cpus)
    val lines = byName(Subset).map { q =>
      val live = digest(q.run(spark, o.data.toString))
      val rows = digest(spark, collect(q, spark, o.data.toString))
      val dumped = digest(spark.read.parquet(dumpDir.resolve(q.name).toString))
      require(live == dumped && rows == dumped,
        s"${q.name}: live digests $live (plan) and $rows (rows) differ from the graded dump's $dumped")
      s"${q.name}\t${live._1}\t${live._2}"
    }
    Files.write(to, ("# gate\trows\tdigest (perfbench.Gates.digest over the sf0.01 fixture)" +: lines).asJava, UTF_8)
    spark.stop()
  }
}
