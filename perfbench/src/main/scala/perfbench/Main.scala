package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM side. It builds the session through
  * `graft.Engine.session`, calls only the engine's public entry points
  * (`SparkEntry.queries`, `streaming.StreamingOps`,
  * `operators.TextOps.fingerprint`), times those calls and writes what it
  * saw to `<work>/result.json`. `run.py` turns that
  * into the reported metrics and runs the DuckDB oracle.
  *
  * Usage: Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  * (the working directory is expected to be `<workDir>`, so the engine's
  * relative `target/fixtures/…` artifacts land there).
  */
object Main {

  /** The keys of the batch workload, one pass running each once. The star
    * keys are the reference's SQL/DataFrame surface over fixture-sized
    * tables, where planning and scheduling dominate and no graft_* kernel
    * runs; the corpus keys are the text-curation operators over a generated
    * corpus, which run the graft_* kernels and shuffle on fingerprints. */
  val starKeys: Seq[String] = Seq("session_count", "join_star", "win_rank", "asof_join", "bloom_join")
  val corpusKeys: Seq[String] = Seq("text_quality", "doc_dedup", "dedup_minhash", "substring_dedup")

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val work = Paths.get(workDir)
    val out = new Json
    val t0 = System.nanoTime()
    val spark = graft.Engine.session("perfbench")
    out.num("session_s", (System.nanoTime() - t0) / 1e9)
    val trace = if (traced) Some(new Trace(spark)) else None
    try {
      workload match {
        case "stream" => StreamRun.run(spark, inDir, work, trace, out)
        case "batch" => BatchRun.run(spark, starKeys ++ corpusKeys, inDir, work, seconds, trace, out)
      }
      out.num("peak_rss_mb", peakRssMb())
      Files.writeString(work.resolve("result.json"), out.render)
    } finally spark.stop()
  }

  /** The traced units' spans (unit → operator call → query phases → jobs),
    * kept in memory during the run and written once at its end. */
  def writeTrace(work: Path, units: Seq[Json]): Unit =
    Files.writeString(work.resolve("trace.json"), new Json().arr("units", units).render)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap still in use after a full collection, in MiB: what the program
    * retains, as opposed to the heap the JVM has committed. */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes under `p` (0 when it does not exist). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Order-sensitive digest of a result: every key ends in an ORDER BY on a
    * unique key, so a re-execution must reproduce it row for row. */
  def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))
}

/** Minimal JSON writer for the result file (numbers, strings, nesting). */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(k: String, v: Double): Json = { fields += s"${q(k)}:${n(v)}"; this }
  def str(k: String, v: String): Json = { fields += s"${q(k)}:${q(v)}"; this }
  def bool(k: String, v: Boolean): Json = { fields += s"${q(k)}:$v"; this }
  def obj(k: String, v: Json): Json = { fields += s"${q(k)}:${v.render}"; this }
  def arr(k: String, vs: Seq[Json]): Json = { fields += s"${q(k)}:${vs.map(_.render).mkString("[", ",", "]")}"; this }
  def nums(k: String, vs: Seq[Double]): Json = { fields += s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}"; this }
  def strs(k: String, vs: Iterable[(String, String)]): Json = {
    fields += s"${q(k)}:${vs.map { case (a, b) => s"${q(a)}:${q(b)}" }.mkString("{", ",", "}")}"; this
  }
  def render: String = fields.mkString("{", ",", "}")
}
