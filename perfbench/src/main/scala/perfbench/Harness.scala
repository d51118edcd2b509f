package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheHygiene, GraftSession, SparkEntry}
import graft.operators._

/** One JVM run of one workload: set-up (session build and one untimed
  * warm pass, which also dumps every job's output for the oracle gate),
  * then a fixed number of timed passes.
  * Writes `harness.json` into the run directory; `run.py` turns it
  * into the benchmark's result line.
  *
  * Usage: Harness --workload W --data DIR --out DIR --trace 0|1 --cores N
  *   (--jobs a,b,c --passes P | --heads spec --offered_s S --drains D ...)
  */
object Harness {

  /** A unit of work in a pass: `build` is the driver-side call (plan
    * building and any eager jobs inside it); the returned frame, if
    * any, is then executed to a sink. */
  final case class Job(name: String, module: String, check: String,
      build: (SparkSession, String) => Option[DataFrame])

  private lazy val moduleOf: Map[String, String] = Seq(
    "MrCore" -> MrCore.defs, "Relational" -> Relational.defs, "TpchSuite" -> TpchSuite.defs,
    "Advanced" -> Advanced.defs, "ScalarOps" -> ScalarOps.defs, "Events" -> Events.defs,
    "TextAnalysis" -> TextAnalysis.defs, "Dedup" -> Dedup.defs, "Similarity" -> Similarity.defs,
    "Multimodal" -> Multimodal.defs, "Pipelines" -> Pipelines.defs,
  ).flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap

  private val LayoutConf = "spark.graft.coOrderLayout"

  def job(name: String): Job = name match {
    case "mr_typed_wordcount" =>
      Job(name, "mr", "oracle:mr_wordcount", (s, d) => Some(TypedMr.wordCount(s, d)))
    case "mr_typed_inverted_index" =>
      Job(name, "mr", "oracle:mr_inverted_index", (s, d) => Some(TypedMr.invertedIndex(s, d)))
    case "graph_layout_build" =>
      Job(name, "MrCore", "none", { (s, d) =>
        MrCore.buildCoOrderLayout(s, d)
        s.conf.set(LayoutConf, "true")
        None
      })
    case q =>
      val fn = SparkEntry.queries.getOrElse(q, sys.error(s"unknown job $q"))
      val check = if (SparkEntry.oracleSql.contains(q)) s"oracle:$q" else "rows_schema"
      Job(q, moduleOf.getOrElse(q, "other"), check, (s, d) => Some(fn(s, d)))
  }

  final case class JobTime(name: String, build: Double, execute: Double, sweep: Double,
      ok: Boolean, cacheBlocks: Long, cacheBytes: Long, heapAfterGcMiB: Double)
  final case class Pass(index: Int, traced: Boolean, seconds: Double, jobs: Seq[JobTime],
      gcMs: Double, heapAfterGcMiB: Double)

  val failures = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val out = args("out")
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    Files.createDirectories(Paths.get(out))
    val result = mutable.LinkedHashMap.empty[String, Any]
    result("workload") = workload
    result("box_start") = Box.snapshot()
    val tb = System.nanoTime()
    val spark = GraftSession.build(cores = cores)
    spark.sparkContext.setLogLevel("ERROR")
    result("session_build_s") = (System.nanoTime() - tb) / 1e9
    // set-up runs from JVM start to the first timed pass
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def setupDone(): Unit = result("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (workload == "stream_ingest") Streams.run(spark, args, out, trace, setupDone, result)
    else runBatch(spark, args("jobs").split(",").toSeq.map(job), args("data"), out, args("passes").toInt,
      trace, setupDone, result)
    spark.stop()
    result("attempted") = attempted
    result("failures") = failures.map { case (j, p, e) => Map("job" -> j, "phase" -> p, "error" -> e) }.toSeq
    result("box_end") = Box.snapshot()
    Files.writeString(Paths.get(out, "harness.json"), Json.write(result))
    System.exit(0)
  }

  /** Time one phase; failures are recorded, not thrown. */
  def attempt(job: String, phase: String)(body: => Unit): Boolean =
    try { body; true }
    catch { case e: Throwable =>
      failures += ((job, phase, String.valueOf(e.getMessage).take(300)))
      System.err.println(s"[perfbench] $job $phase failed: $e")
      false
    }

  /** Heap in use right after a full collection, in MiB. */
  def heapAfterGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcTimeMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  def runBatch(spark: SparkSession, jobs: Seq[Job], data: String, out: String, nPasses: Int,
      trace: Boolean, setupDone: () => Unit, result: mutable.Map[String, Any]): Unit = {
    val tw = System.nanoTime()
    runPass(spark, jobs, data, -1, None, Some(s"$out/results"))
    result("warm_pass_s") = (System.nanoTime() - tw) / 1e9
    setupDone()
    result("checks") = jobs.filter(_.check != "none").map { j =>
      Map("job" -> j.name, "check" -> j.check, "path" -> s"$out/results/${j.name}")
    }
    result("oracle_sql") = SparkEntry.oracleSql
    result("jobs") = jobs.map(j => Map("name" -> j.name, "module" -> j.module))

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val t0 = System.nanoTime()
    // a fixed count, so a slow machine does not change which passes
    // the median is taken over. The traced run alternates untraced and
    // traced passes, starting and ending untraced: passes still speed up
    // as the JIT warms, so each traced pass is compared with the mean of
    // the untraced passes on either side
    val passes = (0 until (if (trace) 2 * nPasses + 1 else nPasses)).map { i =>
      val traced = tracer.exists(_ => i % 2 == 1)
      tracer.foreach(t => if (traced) t.enable() else t.disable())
      runPass(spark, jobs, data, i, tracer.filter(_ => traced), None)
    }
    tracer.foreach(_.disable())
    result("timed_s") = (System.nanoTime() - t0) / 1e9
    result("passes") = passes.map(passJson)
    tracer.foreach(t => TraceReport.write(t, passes, out, result))
  }

  def passJson(p: Pass): Map[String, Any] = Map(
    "index" -> p.index, "traced" -> p.traced, "pass_s" -> p.seconds,
    "gc_ms" -> p.gcMs, "heap_after_gc_mib" -> p.heapAfterGcMiB,
    "jobs" -> p.jobs.map(j => Map("name" -> j.name, "build_s" -> j.build, "execute_s" -> j.execute,
      "sweep_s" -> j.sweep, "ok" -> j.ok, "cache_blocks" -> j.cacheBlocks,
      "cache_bytes" -> j.cacheBytes, "heap_after_gc_mib" -> j.heapAfterGcMiB)))

  /** One pass over the jobs: build, execute and sweep each in turn.
    * Pass time counts build and execute only. An untraced timed pass
    * reads the heap after a full GC between each job's execute and its
    * sweep; the pass's reading is the highest. A negative index is the
    * warm pass; `dump` makes it write each output as parquet. */
  def runPass(spark: SparkSession, jobs: Seq[Job], data: String, index: Int,
      tracer: Option[Tracer], dump: Option[String]): Pass = {
    val passId = s"pass:$index"
    val gc0 = gcTimeMs()
    val pt0 = tracer.map(_.nowMs())
    val times = jobs.map { j =>
      val jobId = s"$passId/${j.name}"
      def phase[T](kind: String)(body: => T): T = tracer match {
        case Some(t) => t.span(s"$jobId/$kind", jobId, kind, j.name)(body)
        case None => body
      }
      val jt0 = tracer.map(_.nowMs())
      attempted += 1
      var df: Option[DataFrame] = None
      val tb = System.nanoTime()
      var ok = attempt(j.name, "build") { df = phase("build")(j.build(spark, data)) }
      val te = System.nanoTime()
      if (ok) ok = attempt(j.name, "execute") {
        phase("execute") {
          df.foreach { d =>
            dump match {
              case Some(dir) => d.write.mode("overwrite").parquet(s"$dir/${j.name}")
              case None => d.write.format("noop").mode("overwrite").save()
            }
          }
        }
      }
      val ts = System.nanoTime()
      // the live set while the job's frames, cached blocks and driver
      // collects are still held, i.e. before its sweep; outside the pass
      // time, and left out of traced passes so their job spans hold no GC
      val heap = if (index >= 0 && tracer.isEmpty) heapAfterGc() else 0.0
      val (blocks, bytes) = tracer.map { _ =>
        val infos = spark.sparkContext.getRDDStorageInfo
        (infos.map(_.numCachedPartitions.toLong).sum, infos.map(r => r.memSize + r.diskSize).sum)
      }.getOrElse((0L, 0L))
      val tw = System.nanoTime()
      phase("sweep")(attempt(j.name, "sweep")(CacheHygiene.sweep(spark, blocking = true)))
      val tEnd = System.nanoTime()
      tracer.foreach(t => t.add(Span(jobId, passId, "job", j.name, jt0.get, t.nowMs())))
      JobTime(j.name, (te - tb) / 1e9, (ts - te) / 1e9, (tEnd - tw) / 1e9, ok, blocks, bytes, heap)
    }
    val gcMs = gcTimeMs() - gc0
    tracer.foreach(t => t.add(Span(passId, "run", "pass", passId, pt0.get, t.nowMs())))
    Pass(index, tracer.isDefined, times.map(t => t.build + t.execute).sum, times, gcMs,
      times.map(_.heapAfterGcMiB).max)
  }
}

/** The reference's programming model, driven through the typed API. */
object TypedMr {
  import graft.mr.MapReduce

  private def docs(spark: SparkSession, dir: String) = {
    import spark.implicits._
    graft.Tables.documents(spark, dir).select($"doc_id", $"text").as[(Long, String)]
  }

  def wordCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    MapReduce.run[Long, String, String, Long](docs(spark, dir),
      (_, text) => text.split("\\s+").iterator.filter(_.nonEmpty).map(_ -> 1L),
      _ + _).toDF("token", "cnt")
  }

  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    MapReduce.runGrouped[Long, String, String, Long, (String, Long, String)](docs(spark, dir),
      (id, text) => text.split("\\s+").iterator.filter(_.nonEmpty).distinct.map(_ -> id),
      { (token, ids) =>
        val sorted = ids.toArray.distinct.sorted
        (token, sorted.length.toLong, sorted.mkString(","))
      }).toDF("token", "df", "postings")
  }
}

/** Load and memory of the machine at a point in time. */
object Box {
  def snapshot(): Map[String, Any] = {
    def read(p: String) = try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Throwable => "" }
    val load = read("/proc/loadavg").split("\\s+")
    val avail = read("/proc/meminfo").linesIterator.collectFirst {
      case l if l.startsWith("MemAvailable:") => l.split("\\s+")(1).toLong / 1024
    }
    Map("load1" -> load.headOption.flatMap(_.toDoubleOption).getOrElse(-1.0),
      "mem_available_mib" -> avail.getOrElse(-1L),
      "nproc" -> Runtime.getRuntime.availableProcessors())
  }
}

/** Minimal JSON writer for the harness's report. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }
  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
