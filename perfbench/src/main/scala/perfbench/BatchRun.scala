package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A batch workload: an untimed warm-up pass (JIT, codegen, warm artifacts;
  * its results are written for the DuckDB oracle after the timed passes),
  * then timed passes in pass-major order until `seconds` have gone by (at
  * least [[MinPasses]]).
  * Every timed execution is compared with the oracle-checked warm-up result.
  * When tracing, odd passes run without listeners and even passes with
  * them, so the same run yields the tracing overhead. */
object BatchRun {
  val MinPasses = 3

  def run(spark: SparkSession, keys: Seq[String], inDir: String, work: Path,
      seconds: Double, trace: Option[Trace], out: Json): Unit = {
    val sc = spark.sparkContext
    val fixtures = work.resolve("target").resolve("fixtures")
    val resultsDir = work.resolve("results")
    val inputBytes = Main.du(java.nio.file.Paths.get(inDir))

    // warm-up: one untimed execution per key; its rows go to the oracle
    // after the timed passes, so set-up holds no write the program never does
    val warm = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val warmErrors = mutable.Map.empty[String, String]
    keys.foreach { k =>
      spark.catalog.clearCache()
      try {
        val df = graft.SparkEntry.queries(k)(spark, inDir)
        warm(k) = (df.collect(), df.schema)
      } catch { case e: Throwable => warmErrors(k) = oneLine(e) }
    }
    spark.catalog.clearCache()
    out.num("setup_done_ms", System.currentTimeMillis().toDouble)
    val expected = warm.map { case (k, (rows, _)) => k -> Main.digest(rows) }
    out.strs("oracle_sql", keys.flatMap(k => graft.SparkEntry.oracleSql.get(k).map(k -> _)))
    out.strs("warm_errors", warmErrors)

    val samples = mutable.ArrayBuffer.empty[Json]
    val passLayers = mutable.ArrayBuffer.empty[Json]
    val spans = mutable.ArrayBuffer.empty[Json]
    val begin = System.nanoTime()
    def elapsed = (System.nanoTime() - begin) / 1e9
    var pass = 0
    var lastPass = 0.0
    var retainedMb = 0.0
    // pass-major: every key once per pass, so a slow stretch of wall clock
    // touches one sample of many keys rather than every sample of one key.
    // After MinPasses, a pass starts only if it should end within `seconds`;
    // a traced run ends on a traced pass so the two kinds pair up.
    while (pass < MinPasses || elapsed + lastPass <= seconds ||
        (trace.isDefined && pass % 2 == 1)) {
      val passStart = elapsed
      pass += 1
      val tracedPass = trace.isDefined && pass % 2 == 0
      trace.foreach(t => if (tracedPass) t.enable() else t.disable())
      val layers = new Layers(graft.Engine.cpus.toInt)
      keys.foreach { k =>
        spark.catalog.clearCache()
        val persisted = sc.getPersistentRDDs.size
        if (tracedPass) trace.get.harvest()
        val k0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var c1 = k0
        var err: String = warmErrors.get(k).orNull
        try {
          val df = graft.SparkEntry.queries(k)(spark, inDir)
          c1 = System.currentTimeMillis()
          val rows = df.collect()
          if (err == null && Main.digest(rows) != expected(k)) err = "result differs from the warm-up result"
        } catch { case e: Throwable => err = oneLine(e) }
        val sec = (System.nanoTime() - n0) / 1e9
        val k1 = System.currentTimeMillis()
        val leaked = math.max(0, sc.getPersistentRDDs.size - persisted)
        if (tracedPass)
          layers.addUnit(s"pass $pass/$k", trace.get.harvest(), Span(k0, k1), Span(k0, c1), leaked)
        val s = new Json().str("key", k).num("pass", pass).num("sec", sec).bool("traced", tracedPass)
        if (err != null) s.str("err", err)
        samples += s
      }
      // untimed: a full collection between passes gives each pass the
      // same clean heap and measures what the last one left behind
      retainedMb = math.max(retainedMb, Main.retainedHeapMb())
      lastPass = elapsed - passStart
      if (tracedPass) {
        passLayers += layers.result(Main.du(fixtures) + Main.du(work.resolve("tmp")), inputBytes)
        spans ++= layers.units
      }
    }
    if (trace.isDefined) Main.writeTrace(work, spans.toSeq)
    trace.foreach(_.disable())
    warm.foreach { case (k, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(resultsDir.resolve(k).toString)
    }
    out.num("retained_heap_mb", retainedMb)
    out.arr("samples", samples.toSeq)
    out.arr("layers", passLayers.toSeq)
  }

  def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200)}"
}
