package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{ConsistentState, GraftApp}

/** The `live-churn` workload: `GraftApp.start` over `GraftApp.fileSource`,
  * fed by [[Gen]] through files dropped into the source directory.
  *
  * Open loop: a tick of 50 messages is due every 100 ms (500 msg/s)
  * whether or not the app keeps up, for `--seconds`. One reader queries
  * the `v_*` views on the app's session once a second, from the first
  * tick until every written message is committed, so reads run beside
  * writes for the whole time the app has work.
  */
object Ingest {
  val ReadPeriodMs = 1000L
  val DrainTimeoutMs = 100000L

  /** `GraftApp.main`'s session settings, plus what spark-submit supplies
    * for a local deployment: the master, and shuffle partitions equal to
    * the cores (as every other main in the repo sets). With Spark's
    * default of 200 partitions one micro-batch of this traffic takes
    * ~50 s on 4 cores, which no run of this benchmark can afford.
    */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-consumer")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def tickName(i: Int) = f"t$i%06d.tsv"

  /** Writes one tick atomically per file (write aside, then rename into
    * the watched directory) and returns the relative file names.
    */
  def writeFiles(byTopic: Seq[(String, Seq[String])], dir: Path, tmp: Path, name: String): Seq[String] =
    byTopic.map { case (topic, lines) =>
      val rel = s"topic=${GraftApp.TopicPrefix}$topic/$name"
      val aside = tmp.resolve(s"$topic-$name")
      Files.write(aside, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.createDirectories(dir.resolve(rel).getParent)
      Files.move(aside, dir.resolve(rel), StandardCopyOption.ATOMIC_MOVE)
      rel
    }

  /** The bootstrap files as the (topic, msg_key, line, kafka_ts) frame
    * `GraftApp.fileSource` yields, read as a batch.
    */
  def readBatch(spark: SparkSession, dir: Path): DataFrame =
    spark.read.option("recursiveFileLookup", "true").text(dir.toString)
      .select(
        regexp_extract(input_file_name(), "topic=([^/]+)/", 1).as("topic"),
        lit(null).cast("string").as("msg_key"),
        col("value").as("line"),
        lit(null).cast("timestamp").as("kafka_ts"))

  /** Which micro-batch read each source file, from the file source's
    * metadata log under the query checkpoint (`v1` header, then one JSON
    * entry per file; compacted files repeat earlier entries).
    */
  def fileBatches(root: Path): Map[String, Long] = {
    val dir = root.resolve("_checkpoint/sources/0")
    if (!Files.isDirectory(dir)) return Map.empty
    val PathRe  = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
    val BatchRe = "\"batchId\"\\s*:\\s*(\\d+)".r
    val s = Files.list(dir)
    try s.iterator.asScala.filter(p => !p.getFileName.toString.startsWith(".")).flatMap { f =>
      Files.readAllLines(f, UTF_8).asScala.drop(1).flatMap { ln =>
        for (p <- PathRe.findFirstMatchIn(ln); b <- BatchRe.findFirstMatchIn(ln))
          yield p.group(1).split("/").takeRight(2).mkString("/") -> b.group(1).toLong
      }
    }.toMap finally s.close()
  }

  private final case class TickRec(index: Int, dueMs: Long, n: Int, lateMs: Long, files: Seq[String])
  private final case class ReadRec(kind: Int, dueMs: Long, startMs: Long, endMs: Long, ok: Boolean, error: String)

  def run(o: Opts): Map[String, Any] = {
    val gen  = new Gen(o.seed, o.mix)
    val tmp  = Files.createDirectories(o.work.resolve("aside"))
    val boot = Files.createDirectories(o.work.resolve("bootstrap"))
    val bootLines = gen.bootstrap()
    writeFiles(bootLines, boot, tmp, "boot.tsv")
    val bootMsgs = bootLines.map(_._2.size).sum

    // set-up, once per run (the first micro-batch of a JVM is its most
    // expensive; see README): session start + inventory bootstrap with the
    // rib preload + the first view registration
    val cg0 = Codegen.mark()
    val s0 = System.nanoTime()
    val spark = session(o.cpus)
    val conf = GraftApp.Conf(o.work.resolve("app").toString)
    GraftApp.bootstrap(spark, readBatch(spark, boot), conf)
    GraftApp.registerViews(spark, conf)
    val setupS = (System.nanoTime() - s0) / 1e9
    val setupCodegenMs = Codegen.deltaMs(cg0, Codegen.mark())
    val root = Path.of(conf.root)
    Memory.checkpoint()

    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val layers = if (o.trace) Some(Trace.install(spark)) else None

    val stream = Files.createDirectories(o.work.resolve("stream"))
    val query = GraftApp.start(GraftApp.fileSource(spark, stream.toString), conf)
    val ticks = ArrayBuffer.empty[TickRec]
    val reads = ArrayBuffer.empty[ReadRec]
    var written = 0L
    val windowMs = o.seconds * 1000L
    val t0 = System.currentTimeMillis() + 200L

    val prefix = gen.prefixOf((o.seed % Gen.PreloadPerPeer).toInt)
    val queries = IndexedSeq(
      s"SELECT * FROM v_ip_routes WHERE Prefix = '$prefix'",
      "SELECT peer_hash_id, count(*) AS n FROM v_ip_routes_active GROUP BY peer_hash_id",
      "SELECT * FROM v_peers",
      s"SELECT * FROM v_ip_routes_history WHERE Prefix = '$prefix' ORDER BY LastModified")
    def sleepUntil(ms: Long): Unit = {
      val d = ms - System.currentTimeMillis()
      if (d > 0) Thread.sleep(d)
    }
    @volatile var drained = false
    val loader = new Thread(() => {
      var i = 0
      while (i * Gen.TickMs < windowMs) {
        val t = gen.tick(i)
        val due = t0 + t.dueMs
        sleepUntil(due)
        val start = System.currentTimeMillis()
        val files = writeFiles(t.byTopic, stream, tmp, tickName(i))
        ticks.synchronized { ticks += TickRec(i, due, t.size, start - due, files); written += t.size }
        i += 1
      }
    }, "bench-load")
    val reader = new Thread(() => {
      var j = 0
      while (!drained) {
        val due = t0 + j * ReadPeriodMs
        sleepUntil(due)
        val start = System.currentTimeMillis()
        val kind = j % queries.size
        val err =
          try {
            val df = spark.sql(queries(kind))
            layers.foreach(_.tags.put(df.queryExecution, s"read:$kind"))
            df.collect()
            ""
          } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        reads += ReadRec(kind, due, start, System.currentTimeMillis(), err.isEmpty, err)
        j += 1
      }
    }, "bench-reader")
    loader.start(); reader.start()
    loader.join()
    val backlogEnd = written - progress.committedRows
    val allCommitted = progress.awaitRows(written, DrainTimeoutMs)
    val drainedAtMs = System.currentTimeMillis()
    drained = true
    reader.join()
    Memory.checkpoint()
    query.stop()
    layers.foreach(_ => org.apache.spark.BenchListenerDrain(spark.sparkContext))

    // ---- outputs --------------------------------------------------------
    val batchOf  = fileBatches(root)
    val commitOf = progress.batches.asScala.map(b => b.id -> b.commitMs).toMap
    val tickOut = ticks.toSeq.map { t =>
      val commits = t.files.map(f => batchOf.get(f).flatMap(commitOf.get))
      val commit: Any = if (commits.forall(_.isDefined)) commits.flatten.max else null
      Seq(t.index, t.dueMs, t.n, t.lateMs, commit)
    }
    val rib = ConsistentState.readConsistent(spark, root.toString, Seq("ip_rib"))("ip_rib")
      .select("peer_hash_id", "hash_id", "isWithdrawn", "ts_us")
    val ribFile = o.work.resolve("ip_rib_final.tsv")
    Files.write(ribFile, rib.collect().iterator.map(r =>
      s"${r.getString(0)}\t${r.getString(1)}\t${r.getBoolean(2)}\t${r.getLong(3)}").toSeq.asJava, UTF_8)
    val cdcDups = Seq("ip_rib_log" -> Seq("peer_hash_id", "hash_id"),
      "l3vpn_rib_log" -> Seq("peer_hash_id", "hash_id"),
      "ls_nodes_log" -> Seq("hash_id", "peer_hash_id"),
      "ls_links_log" -> Seq("hash_id", "peer_hash_id"),
      "ls_prefixes_log" -> Seq("hash_id", "peer_hash_id")).collect {
      case (log, keys) if Files.isDirectory(root.resolve(log)) =>
        log -> spark.read.parquet(root.resolve(log).toString)
          .groupBy(("batch" +: keys).map(col): _*).count()
          .filter(col("count") > 1).count()
    }.toMap

    val standalone: Map[String, Any] = if (!o.trace) Map.empty else {
      // view re-registration over the final state, and the parse of the
      // whole recorded stream (about one micro-batch) into a no-op sink,
      // each timed on its own
      val register = (0 until 3).map { _ =>
        val s = System.nanoTime(); GraftApp.registerViews(spark, conf); (System.nanoTime() - s) / 1e6
      }
      val byTopic = ticks.flatMap(_.files).groupBy(_.split("/")(0).stripPrefix(s"topic=${GraftApp.TopicPrefix}"))
      val nMsgs = ticks.map(_.n).sum
      val parseNs = (0 until 3).map { _ =>
        byTopic.toSeq.map { case (topic, files) =>
          val lines = files.flatMap(f => Files.readAllLines(stream.resolve(f), UTF_8).asScala)
          val df = spark.createDataset(lines.toSeq)(Encoders.STRING).toDF("line")
          val s = System.nanoTime()
          GraftApp.parse(topic, df).write.format("noop").mode("overwrite").save()
          System.nanoTime() - s
        }.sum.toDouble
      }
      Map("register_ms" -> register, "parse_ns_per_msg" -> parseNs.sorted.apply(1) / math.max(1, nMsgs))
    }
    val ribRows = rib.count()
    spark.stop()

    Map(
      "setup_s" -> setupS, "setup_codegen_ms" -> setupCodegenMs,
      "t0_ms" -> t0,
      "bootstrap_msgs" -> bootMsgs, "written_msgs" -> written,
      "committed_msgs" -> progress.committedRows, "backlog_end_msgs" -> backlogEnd,
      "all_committed" -> allCommitted, "drained_ms" -> drainedAtMs,
      "ticks" -> tickOut,
      "batches" -> progress.batches.asScala.toSeq.sortBy(_.id).map(b =>
        Map("id" -> b.id, "start_ms" -> b.startMs, "commit_ms" -> b.commitMs,
          "rows" -> b.rows, "durations_ms" -> b.durationsMs)),
      "reads" -> reads.toSeq.map(r => Seq(r.kind, r.dueMs, r.startMs, r.endMs, r.ok, r.error)),
      "rib_file" -> ribFile.toString,
      "stream_dir" -> stream.toString, "bootstrap_dir" -> boot.toString,
      "cdc_dup_groups" -> cdcDups,
      "ip_rib_rows" -> ribRows,
      "root_bytes" -> Main.du(root),
      "standalone" -> standalone
    ) ++ layers.map(Trace.dump).getOrElse(Map.empty)
  }
}
