package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command-line options of the benchmark JVM (set by `run.py`). */
final case class Opts(mode: String, workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, out: Path, cpus: Int,
                      data: Path, expected: Path, ticks: Int, dump: Path, mix: String)

/** Span-side listeners: installed on the measured session of a traced run. */
object Trace {
  def install(spark: SparkSession): LayerRecorder = {
    val l = new LayerRecorder
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def dump(l: LayerRecorder): Map[String, Any] = Map(
    "execs" -> l.execs.asScala.toSeq.map(e => Seq(e.startMs, e.endMs, e.planMs, e.func, e.path,
      e.rows, e.bytes, e.ok, e.topkGroups, e.topkPassThrough, e.tag)),
    "jobs" -> l.jobs.asScala.toSeq,
    "stages" -> l.stages.asScala.toSeq)
}

/** Entry point. Modes: `run` (one workload run, raw results to `--out`),
  * `gen` (write the generated stream to `--work`, no Spark), `train` (the
  * gates and the `live-churn` set-up, which load the classes the
  * build's class-data archive records) and `record` (write the expected
  * gate digests from a graded dump).
  */
object Main {
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String = null) = kv.getOrElse(k, Option(d).getOrElse(sys.error(s"missing --$k")))
    val o = Opts(
      mode = get("mode", "run"), workload = get("workload"), seed = get("seed", "1").toLong,
      seconds = get("seconds", "10").toInt, trace = get("trace", "0") == "1",
      work = Path.of(get("work")), out = Path.of(get("out", "raw.json")),
      cpus = get("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      data = Path.of(get("data", ".")), expected = Path.of(get("expected", ".")),
      ticks = get("ticks", "20").toInt, dump = Path.of(get("dump", ".")),
      mix = get("mix", Gen.DefaultMix))
    Files.createDirectories(o.work)
    o.mode match {
      case "gen" =>
        val gen = new Gen(o.seed, o.mix)
        val tmp = Files.createDirectories(o.work.resolve("aside"))
        Ingest.writeFiles(gen.bootstrap(), o.work.resolve("bootstrap"), tmp, "boot.tsv")
        for (i <- 0 until o.ticks) {
          val t = gen.tick(i)
          Ingest.writeFiles(t.byTopic, o.work.resolve("stream"), tmp, f"t$i%06d.tsv")
        }
      case "train" =>
        Gates.train(o)
        Ingest.run(o.copy(seconds = 0))
      case "record" =>
        Gates.record(o, o.dump, o.expected)
      case "run" =>
        val res = o.workload match {
          case Gen.LiveChurn => Ingest.run(o)
          case "gates" => Gates.run(o)
          case w => sys.error(s"unknown workload $w")
        }
        val full = res ++ Map("workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus,
          "trace" -> o.trace, "mix" -> o.mix, "live_heap_peak_bytes" -> Memory.liveHeapPeak,
          "native_peak_bytes" -> Memory.nativePeak, "peak_rss_kb" -> Memory.residentPeakKb)
        Files.write(o.out, new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(full))
      case m => sys.error(s"unknown mode $m")
    }
  }
}
