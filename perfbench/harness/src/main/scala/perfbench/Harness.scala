package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.{GraftSession, SparkEntry}
import graft.fixtures.EventCatalogFixture
import graft.functions.{JsonShredRuntime, MinHashKernel, ShredSpec, SimHashKernel, WordHitsKernel}
import graft.llm.TextStats
import graft.sources.Tables

/** The benchmark's JVM side. `perfbench/run.py` launches it directly on the
  * exported classpath; it never runs under sbt.
  *
  * Modes:
  *  - `setup`: build the session and register the inputs, print
  *    `PERFBENCH_READY`, exit. run.py times JVM start to that line.
  *  - `run`: the same setup, then the timed passes over the workload's
  *    queries (closed loop, one query at a time) and, on a traced run, the
  *    per-layer records and kernel timings; then `PERFBENCH_TIMED`, a line
  *    from stdin, and, when `--check` names a directory, an untimed
  *    output-check pass whose results run.py compares against the DuckDB
  *    oracles (`<out>.oracle` holds their SQL).
  *
  * A pass times each query as `fn(spark, dir)` followed by a noop write,
  * the sink `graft.Bench` uses; the pass time is the sum of its queries'
  * times. Between queries, outside the timed span, the cache is cleared and
  * the heap collected, as in `graft.Bench`.
  */
object Harness {

  final case class Args(
      mode: String, data: String, tables: Seq[String], queries: Seq[String],
      cores: Int, warmup: Int, passes: Int, seconds: Double, trace: Boolean, seed: Long,
      out: String, check: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = kv.getOrElse(k, "").split(',').filter(_.nonEmpty).toSeq
    Args(kv("mode"), kv("data"), list("tables"), list("queries"), kv("cores").toInt,
      kv.getOrElse("warmup", "0").toInt, kv.getOrElse("passes", "2").toInt,
      kv.getOrElse("seconds", "0").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("out", ""), kv.getOrElse("check", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = GraftSession.local(a.cores)
    spark.sparkContext.setLogLevel("ERROR")
    a.tables.foreach(t => Tables.table(spark, a.data, t).schema)
    println("PERFBENCH_READY")
    System.out.flush()
    // Stopping the session and running shutdown hooks costs a second or
    // more and measures nothing; run.py deletes the run's directories.
    val code = try { if (a.mode == "run") run(spark, a); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val nano0 = System.nanoTime()
  private val wall0Ms = System.currentTimeMillis()
  private def nowNs: Long = System.nanoTime() - nano0
  private def msToNs(ms: Long): Long = (ms - wall0Ms) * 1000000L

  /** One traced interval. `parent` is -1 for the run span. */
  final case class Span(id: Int, parent: Int, name: String, query: String,
      start: Long, end: Long) {
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
      "query" -> query, "start_ns" -> start, "end_ns" -> end)
  }

  private def run(spark: SparkSession, a: Args): Unit = {
    val registry = SparkEntry.queries
    val missing = a.queries.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: $missing")
    val sc = spark.sparkContext
    val tracer = if (a.trace) Some(new Tracer) else None
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0
    def spanId(): Int = { nextSpan += 1; nextSpan - 1 }
    val runSpan = spanId()
    val runStart = nowNs
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[Map[String, Any]]
    def error(q: String, pass: String, e: Throwable): Unit =
      errors += Map("query" -> q, "pass" -> pass,
        "error" -> Option(e.getMessage).getOrElse(e.getClass.getName).take(500))

    def pass(kind: String, traced: Boolean): Double = {
      val t = tracer.filter(_ => traced)
      t.foreach { l => sc.addSparkListener(l); spark.listenerManager.register(l) }
      resetPeakRss()
      val passWallStart = System.currentTimeMillis()
      val passStart = nowNs
      val passSpan = spanId()
      var total = 0L
      val perQuery = mutable.LinkedHashMap.empty[String, Map[String, Any]]
      for (q <- a.queries) {
        spark.catalog.clearCache()
        System.gc()
        val rddsBefore = sc.getPersistentRDDs.keySet.toSet
        val (qSpan, cSpan, xSpan) = (spanId(), spanId(), spanId())
        attempted += 1
        if (traced) sc.setJobGroup(s"pb:$cSpan", q)
        val t0 = nowNs
        var t1 = t0
        val err = try {
          val df = registry(q)(spark, a.data)
          t1 = nowNs
          if (traced) sc.setJobGroup(s"pb:$xSpan", q)
          df.write.mode("overwrite").format("noop").save()
          None
        } catch { case e: Throwable => Some(e) }
        val t2 = nowNs
        total += t2 - t0
        val rec = mutable.LinkedHashMap[String, Any](
          "s" -> (t2 - t0) / 1e9, "construct_s" -> (t1 - t0) / 1e9, "write_s" -> (t2 - t1) / 1e9)
        err.foreach { e => error(q, kind, e); rec("error") = true }
        t.foreach { l =>
          sc.clearJobGroup()
          PerfbenchBus.drain(sc)
          val w = l.takeWrite()
          // The write's analysis, optimization and planning come first;
          // everything after them in the write call is execution.
          val catNs = math.min(w.map(_.catalystMs * 1000000L).getOrElse(0L), t2 - t1)
          spans += Span(qSpan, passSpan, "query", q, t0, t2)
          spans += Span(cSpan, qSpan, "construct", q, t0, t1)
          spans += Span(spanId(), qSpan, "catalyst", q, t1, t1 + catNs)
          spans += Span(xSpan, qSpan, "exec", q, t1 + catNs, t2)
          rec("catalyst_s") = catNs / 1e9
          w.foreach { w =>
            rec("plan") = Map("exchanges" -> w.exchanges, "smj" -> w.smj, "bhj" -> w.bhj,
              "scans" -> w.scans)
            rec("join_rows") = w.joinRows
          }
          rec("leaked_rdds") = (sc.getPersistentRDDs.keySet.toSet -- rddsBefore).size
        }
        perQuery(q) = rec.toMap
      }
      val rec = mutable.LinkedHashMap[String, Any](
        "kind" -> kind, "traced" -> traced, "s" -> total / 1e9, "peak_rss_kb" -> peakRssKb(),
        "queries" -> perQuery)
      t.foreach { l =>
        spans += Span(passSpan, runSpan, "pass", "", passStart, nowNs)
        rec("span") = passSpan
        rec("cache_peak_bytes") = l.cachePeak(passWallStart, System.currentTimeMillis())
        sc.removeSparkListener(l)
        spark.listenerManager.unregister(l)
      }
      passes += rec.toMap
      total / 1e9
    }

    // Timed phase: the cold pass, `warmup` untraced passes that no metric
    // reads, then warm passes until `seconds` of warm passes have been
    // measured, at least `passes`. run.py sets the pass count so that it,
    // not the clock, ends the phase on a normal host: the JIT curve still
    // falls over these passes, and a median over a number of passes that
    // varies with the host's speed would move with it. A traced run
    // measures at least four, untraced and traced in the order
    // U T T U U T T U ..., so that both medians come from the same JVM and
    // the still-falling JIT curve favours neither side.
    pass("cold", a.trace)
    for (_ <- 1 to a.warmup) pass("warmup", traced = false)
    val minWarm = if (a.trace) math.max(a.passes, 4) else a.passes
    var (warm, warmS) = (0, 0.0)
    while (warm < minWarm || warmS < a.seconds) {
      warmS += pass("warm", a.trace && (warm % 4 == 1 || warm % 4 == 2))
      warm += 1
    }

    val kernels = if (a.trace) kernelTimes(spark, a) else Map.empty[String, Double]
    spans += Span(runSpan, -1, "run", "", runStart, nowNs)
    // Nothing after this point is timed. run.py snapshots the files the
    // passes wrote (an oracle may read one, such as q08's spec CSV, which
    // the check pass rewrites), answers on stdin, and computes oracle
    // results while the check pass runs.
    Files.writeString(Paths.get(s"${a.out}.oracle"),
      json.writeValueAsString(a.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    println("PERFBENCH_TIMED")
    System.out.flush()
    scala.io.StdIn.readLine()

    // Untimed output check: run.py compares each parquet dir against the
    // query's DuckDB oracle on the same input files.
    val checks = mutable.LinkedHashMap.empty[String, Any]
    for (q <- a.queries if a.check.nonEmpty) {
      spark.catalog.clearCache()
      attempted += 1
      try {
        registry(q)(spark, a.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${a.check}/$q")
        checks(q) = "written"
      } catch { case e: Throwable => error(q, "check", e); checks(q) = "error" }
    }

    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> attempted,
      "errors" -> errors,
      "passes" -> passes,
      "checks" -> checks,
      "cores" -> a.cores,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version)
    tracer.foreach { l =>
      result("spans") = spans.map(_.toMap)
      result("jobs") = l.jobs.values.map(j =>
        j.toMap ++ Map("start_ns" -> msToNs(j.startMs), "end_ns" -> msToNs(j.endMs)))
      result("kernels_ns") = kernels
    }
    Files.writeString(Paths.get(a.out), json.writeValueAsString(result))
  }

  /** Resets the kernel's peak-RSS mark (VmHWM) of this process, so that
    * each pass reports its own peak.
    */
  private def resetPeakRss(): Unit =
    Files.writeString(Paths.get("/proc/self/clear_refs"), "5")

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Nanoseconds per item of the engine's native kernels, called directly on
    * a seeded sample of the run's own input files: JSON shred per payload
    * (the catalog's three payload columns), MinHash per document over its
    * distinct word 3-shingles, SimHash and stopword hits per document over
    * its tokens. Median of five timed rounds after one untimed round.
    */
  private def kernelTimes(spark: SparkSession, a: Args): Map[String, Double] = {
    def sample(df: DataFrame, n: Int): DataFrame =
      df.orderBy(org.apache.spark.sql.functions.rand(a.seed)).limit(n)
    val payloads: Array[UTF8String] = sample(
      EventCatalogFixture.catalogDf(spark, a.data).select("context", "traits", "properties"), 2000)
      .collect().flatMap(r => (0 until 3).map(i => UTF8String.fromString(r.getString(i))))
    val spec = new ShredSpec(true,
      Array("app.version", "traits.organisation_id", "traits.project_id", "organisation_id",
        "ord_id", "project_id", "org_id", "orgId", "meta_data.org_id", "k", "extra_key"),
      Array("traits", "meta_data"))
    val docs = sample(Tables.documents(spark, a.data).select("text"), 1000)
      .collect().map(_.getString(0))
    def arr(xs: Seq[String]): ArrayData =
      new GenericArrayData(xs.map(UTF8String.fromString(_): Any).toArray)
    val tokens = docs.map(d => d.trim.toLowerCase.split("\\s+").toSeq)
    val tokenArrays = tokens.map(arr)
    val shingleArrays = tokens.map(t => arr(t.sliding(3).map(_.mkString(" ")).toSeq.distinct))
    val minhash = new MinHashKernel(8)
    val simhash = new SimHashKernel(64)
    val hits = new WordHitsKernel(TextStats.enStopwords.toArray)
    def perItem[T](items: Array[T])(f: T => Any): Double = {
      var sink = 0
      def round(): Long = {
        val t0 = System.nanoTime()
        items.foreach(x => if (f(x) != null) sink += 1)
        System.nanoTime() - t0
      }
      round()
      val rounds = Seq.fill(5)(round()).sorted
      if (sink < 0) println(sink) // keeps the kernels' results live for the JIT
      rounds(2).toDouble / items.length
    }
    Map(
      "json_shred_ns" -> perItem(payloads)(p => JsonShredRuntime.shred(p, spec)),
      "minhash_ns" -> perItem(shingleArrays)(minhash.signatures),
      "simhash_ns" -> perItem(tokenArrays)(t => simhash.sketch(t)),
      "word_hits_ns" -> perItem(tokenArrays)(t => hits.count(t)))
  }
}
