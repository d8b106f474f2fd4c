package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types._
import org.json4s.JsonAST.{JArray, JDouble, JObject}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run in one JVM: build the session, run the workload once
  * untimed in the order given (declaration order), run timed passes in a
  * closed loop until `seconds` have elapsed, each pass in its own
  * seed-derived order, and then fingerprint each query's result once.
  * Writes `result.json` (and `spans.jsonl` when traced) into `outDir`;
  * perfbench/run.py turns that into metrics and checks outputs.
  *
  * Each query execution is timed as `graft.Bench` times it: the query
  * function's call (construction), then `count()` (execution), then the
  * session cache is cleared outside the clock. Before each execution, and
  * outside its clock, the `Reference` kernel is timed; run.py divides the
  * run's timings by the host speed it reads. Pass and set-up clocks leave
  * the kernel's time out.
  *
  * Args: sfDir cpus seed seconds trace(0|1) outDir id1,id2,...
  */
object Harness {
  final case class Exec(id: String, span: String, startMs: Long, splitMs: Long, endMs: Long,
      constructNs: Long, executeNs: Long, rows: Long, error: String,
      refMedianNs: Long, refTotalNs: Long) {
    def wallNs: Long = constructNs + executeNs
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, cpus, seedArg, secondsArg, traceArg, outDir, idsArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val ids = idsArg.split(",").toVector
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val dirs0 = graftDirs(tmpRoot)
    val compiles0 = compiles()
    val refWarmNs = Reference.warm()

    val b0 = System.nanoTime()
    val spark = graft.Sessions.build(cpus)
    val buildMs = (System.nanoTime() - b0) / 1e6
    val queries = graft.SparkEntry.queries

    def execute(id: String, span: String): Exec = {
      val (refMedianNs, refTotalNs) = Reference.read()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1, t2 = -1L
      var splitMs, endMs = startMs
      var rows = -1L
      var error: String = null
      try {
        val fn = queries.getOrElse(id, throw new NoSuchElementException(s"no query registered as $id"))
        val df = fn(spark, sfDir)
        t1 = System.nanoTime(); splitMs = System.currentTimeMillis()
        rows = df.count()
        t2 = System.nanoTime(); endMs = System.currentTimeMillis()
      } catch {
        case e: Throwable => error = describe(e)
      }
      if (t2 < 0) { t2 = System.nanoTime(); endMs = System.currentTimeMillis() }
      if (t1 < 0) { t1 = t2; splitMs = endMs }
      spark.sharedState.cacheManager.clearCache()
      Exec(id, span, startMs, splitMs, endMs, t1 - t0, t2 - t1, rows, error, refMedianNs, refTotalNs)
    }

    // Set-up: one untimed pass in declaration order.
    val warmup = ids.map(id => execute(id, s"warmup-$id"))
    // A traced run probes Catalog.load after each traced pass; one untimed
    // probe here keeps first-use layout work out of those readings.
    if (traced) catalogProbe(spark, sfDir)
    val compilesSetup = compiles() - compiles0
    val dirsSetup = graftDirs(tmpRoot) - dirs0

    val recorder = if (traced) Some(new Recorder(spark)) else None
    val passes = ArrayBuffer.empty[JObject]
    val spans = ArrayBuffer.empty[JObject]
    // Three passes at least, so the median is not the JIT-coldest pass; a
    // traced run needs two traced and two untraced.
    val minPasses = if (traced) 4 else 3
    val firstTimedMs = System.currentTimeMillis()
    val timedStart = System.nanoTime()
    var pass = 0
    var liveHeapMb = 0.0
    while (pass < minPasses || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      // Traced runs interleave untraced passes (the overhead baseline) and
      // traced ones as U T T U U T T U …, so a trend over the run (the JIT
      // still warming) weighs on both sides alike.
      val rec = recorder.filter(_ => pass % 4 == 1 || pass % 4 == 2)
      val order = new scala.util.Random(new java.util.Random(seed * 1000003L + pass)).shuffle(ids)
      rec.foreach(_.attach())
      val dirsBefore = graftDirs(tmpRoot)
      val compilesBefore = compiles()
      val cpu0 = processCpuNs()
      val p0 = System.nanoTime()
      val passStartMs = System.currentTimeMillis()
      val execs = order.zipWithIndex.map { case (id, i) =>
        val span = s"p$pass.q$i"
        rec.foreach(_ => spark.sparkContext.setJobGroup(span, id, interruptOnCancel = false))
        try execute(id, span) finally rec.foreach(_ => spark.sparkContext.clearJobGroup())
      }
      val refMs = execs.map(_.refTotalNs).sum / 1e6
      val passWallMs = (System.nanoTime() - p0) / 1e6 - refMs
      val passCpuMs = (processCpuNs() - cpu0) / 1e6 - refMs
      val passEndMs = System.currentTimeMillis()
      val passCompiles = compiles() - compilesBefore
      val passDirs = graftDirs(tmpRoot) - dirsBefore
      val layers = rec.map { r =>
        val (metrics, passSpans) = r.summarize(s"p$pass", passStartMs, passEndMs, passWallMs, cpus.toInt, execs)
        spans ++= passSpans
        val probe = catalogProbe(spark, sfDir)
        val probeJobs = r.drainJobsCount()
        r.detach()
        spans ++= probe.map { case (t, s, e, _) =>
          ("id" -> s"p$pass.catalog.$t") ~ ("kind" -> "catalog_load") ~ ("name" -> t) ~
            ("start_ms" -> s) ~ ("end_ms" -> e) ~ ("parent" -> s"p$pass")
        }
        metrics ++ Seq(
          "codegen.compiles" -> passCompiles.toDouble,
          "catalog.load_ms" -> probe.map(_._4).sum / probe.size,
          "catalog.load_jobs" -> probeJobs.toDouble / probe.size)
      }
      // Live heap after a fixed amount of work (the third pass; every run
      // has one), outside the clock. It grows a little with every pass, so
      // a reading over all passes would depend on how many ran.
      if (pass == 2) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        liveHeapMb = settledHeapMb()
      }
      passes += ("index" -> pass) ~ ("traced" -> rec.isDefined) ~ ("wall_ms" -> passWallMs) ~
        ("cpu_ms" -> passCpuMs) ~
        ("compiles" -> passCompiles) ~ ("tmpdirs" -> passDirs) ~
        ("layers" -> layers.map(m => JObject(m.map { case (k, v) => k -> JDouble(v) }.toList))) ~
        ("queries" -> execs.map(execJson))
      pass += 1
    }

    // Output check: one untimed fingerprint of each query's result.
    val prints = ids.map { id =>
      try {
        val f0 = System.nanoTime()
        val (rows, print) = fingerprint(queries(id)(spark, sfDir))
        ("id" -> id) ~ ("rows" -> rows) ~ ("fingerprint" -> print) ~ ("ms" -> (System.nanoTime() - f0) / 1e6)
      } catch {
        case e: Throwable => ("id" -> id) ~ ("error" -> describe(e))
      } finally spark.sharedState.cacheManager.clearCache()
    }

    val out = Paths.get(outDir)
    write(out.resolve("spans.jsonl"), spans.map(j => compact(render(j))).mkString("", "\n", "\n"))
    write(out.resolve("result.json"), compact(render(
      ("jvm_start_ms" -> jvmStartMs) ~
      ("first_timed_ms" -> firstTimedMs) ~
      ("setup_reference_ms" -> (refWarmNs + warmup.map(_.refTotalNs).sum) / 1e6) ~
      ("sessions_build_ms" -> buildMs) ~
      ("cpus" -> cpus.toInt) ~
      ("heap_max_mb" -> Runtime.getRuntime.maxMemory / MB) ~
      ("codegen_compiles_setup" -> compilesSetup) ~
      ("memo_tmpdirs_setup" -> dirsSetup) ~
      ("live_heap_mb" -> liveHeapMb) ~
      ("warmup" -> warmup.map(execJson)) ~
      ("passes" -> JArray(passes.toList)) ~
      ("fingerprints" -> JArray(prints.toList)))))
    spark.stop()
  }

  private val MB = 1024.0 * 1024.0

  /** Entries named graft_* directly under the temp root: the program's
    * materialize-once scratch and memo directories.
    */
  private def graftDirs(root: Path): Int = {
    val s = Files.list(root)
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("graft_")) finally s.close()
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap in use once it stops shrinking: full collections 250 ms apart,
    * between which Spark's ContextCleaner releases the broadcast and shuffle
    * blocks of collected queries, until a collection frees less than 1 MB.
    * A single collection can leave twice the settled heap in use.
    */
  private def settledHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }
    var last = collect()
    var rounds = 1
    var freed = Double.MaxValue
    while (freed >= 1.0 && rounds < 10) {
      Thread.sleep(250)
      val now = collect()
      freed = last - now
      last = now
      rounds += 1
    }
    last
  }

  /** CPU time of the whole JVM: driver, executor, JIT and GC threads. */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** `Catalog.load` on every table: (table, start ms, end ms, wall ms). */
  private def catalogProbe(spark: SparkSession, sfDir: String): Seq[(String, Long, Long, Double)] =
    graft.Catalog.tableNames.map { t =>
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      graft.Catalog.load(spark, sfDir, t)
      val ms = (System.nanoTime() - t0) / 1e6
      (t, s, System.currentTimeMillis(), ms)
    }

  /** Row count and sum of a per-row xxhash64 over all columns, as text:
    * equal for equal row multisets, whatever the row order or partitioning.
    * The sum is exact (decimal), so it cannot overflow. Columns xxhash64
    * rejects (maps, variants, anything holding one) are hashed through their
    * string cast.
    */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (unhashable(f.dataType)) col(f.name).cast(StringType) else col(f.name)
    }
    val hash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(hash.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def unhashable(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case a: ArrayType => unhashable(a.elementType)
    case s: StructType => s.fields.exists(f => unhashable(f.dataType))
    case _ => false
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  private def execJson(e: Exec): JObject =
    ("id" -> e.id) ~ ("wall_ms" -> e.wallNs / 1e6) ~ ("construct_ms" -> e.constructNs / 1e6) ~
      ("execute_ms" -> e.executeNs / 1e6) ~ ("reference_ms" -> e.refMedianNs / 1e6) ~
      ("rows" -> e.rows) ~ ("error" -> Option(e.error))

  /** A fixed kernel that uses nothing of the program, timed on the driver
    * thread to read how fast the host runs at that moment: four sorts of the
    * same 8192 random ints, branchy code in cache like the driver's own work.
    */
  object Reference {
    private val keys: Array[Int] = {
      val rnd = new java.util.Random(7L)
      Array.fill(8192)(rnd.nextInt())
    }
    private val scratch = new Array[Int](keys.length)
    @volatile private var sink = 0L

    private def timeNs(): Long = {
      val t0 = System.nanoTime()
      var r = 0
      while (r < 4) {
        System.arraycopy(keys, 0, scratch, 0, keys.length)
        java.util.Arrays.sort(scratch)
        sink += scratch(r)
        r += 1
      }
      System.nanoTime() - t0
    }

    /** The kernel three times: (median, total) ns. The median leaves out the
      * first reading, which pays for the caches the query before evicted.
      */
    def read(): (Long, Long) = {
      val t0 = System.nanoTime()
      val runs = Seq.fill(3)(timeNs()).sorted
      (runs(1), System.nanoTime() - t0)
    }

    /** Runs the kernel until the JIT has compiled it; returns the time taken. */
    def warm(): Long = {
      val t0 = System.nanoTime()
      for (_ <- 0 until 20) timeNs()
      System.nanoTime() - t0
    }
  }

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}
