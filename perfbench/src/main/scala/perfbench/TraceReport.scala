package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns a traced run's spans and counters into per-layer metrics and
  * writes the span tree (`trace_spans.jsonl`, one span per line). */
object TraceReport {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Span kinds whose self time the report gives: the span minus the
    * union of its children. */
  val SelfKinds = Seq("pass", "job", "build", "execute", "sweep", "head", "batch", "spark_job", "stage")

  /** Layer metrics over every span under `root`. */
  def layers(t: Tracer, all: Seq[Span], root: String): mutable.LinkedHashMap[String, Double] = {
    val children = all.groupBy(_.parent)
    val under = mutable.ArrayBuffer.empty[Span] ++ all.filter(_.id == root)
    var frontier = Seq(root)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(children.getOrElse(_, Nil))
      under ++= next
      frontier = next.map(_.id)
    }
    val ids = under.map(_.id).toSet
    val c = new Counters
    ids.foreach { id =>
      val x = t.countersOf(id)
      c.tasks += x.tasks; c.inputRecords += x.inputRecords; c.inputBytes += x.inputBytes
      c.shuffleWriteBytes += x.shuffleWriteBytes; c.shuffleReadBytes += x.shuffleReadBytes
      c.shuffleRecords += x.shuffleRecords; c.spillBytes += x.spillBytes
      c.peakExecBytes = math.max(c.peakExecBytes, x.peakExecBytes)
      c.busyMs += x.busyMs; c.waitMs += x.waitMs; c.scanBusyMs += x.scanBusyMs
      c.fetchWaitMs += x.fetchWaitMs; c.skewMs += x.skewMs; c.stages += x.stages
      c.exchanges += x.exchanges; c.exchangePartitions += x.exchangePartitions
    }
    def selfMs(s: Span): Double = {
      val kids = children.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter(k => k._2 > k._1)
      s.dur - Tracer.unionMs(kids)
    }
    val mib = 1048576.0
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("driver.build_s") = under.filter(_.kind == "build").map(_.dur).sum / 1e3
    m("driver.gap_s") = under.filter(s => Set("build", "execute", "batch")(s.kind)).map { s =>
      val jobs = children.getOrElse(s.id, Nil).filter(_.kind == "spark_job")
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))).filter(k => k._2 > k._1)
      s.dur - Tracer.unionMs(jobs)
    }.sum / 1e3
    m("spark.jobs") = under.count(_.kind == "spark_job").toDouble
    m("spark.stages") = c.stages.toDouble
    m("spark.tasks") = c.tasks.toDouble
    m("task.busy_s") = c.busyMs / 1e3
    m("task.wait_s") = c.waitMs / 1e3
    m("stage.skew_s") = c.skewMs / 1e3
    m("scan.rows") = c.inputRecords.toDouble
    m("scan.mib") = c.inputBytes / mib
    m("scan.busy_s") = c.scanBusyMs / 1e3
    m("exchange.count") = c.exchanges.toDouble
    m("exchange.partitions") = c.exchangePartitions.toDouble
    m("shuffle.write_mib") = c.shuffleWriteBytes / mib
    m("shuffle.read_mib") = c.shuffleReadBytes / mib
    m("shuffle.records") = c.shuffleRecords.toDouble
    m("shuffle.fetch_wait_s") = c.fetchWaitMs / 1e3
    m("spill.mib") = c.spillBytes / mib
    m("task.peak_exec_mib") = c.peakExecBytes / mib
    SelfKinds.foreach { k => m(s"self.${k}_s") = under.filter(_.kind == k).map(selfMs).sum / 1e3 }
    // per job: spark jobs under each job span
    under.filter(_.kind == "job").foreach { j =>
      val phases = children.getOrElse(j.id, Nil).map(_.id).toSet
      m(s"job.${j.name}.spark_jobs") =
        under.count(s => s.kind == "spark_job" && phases(s.parent)).toDouble
    }
    m
  }

  private def writeSpans(t: Tracer, out: String): Seq[Span] = {
    t.drain()
    val all = t.spans.asScala.toSeq
    val lines = all.map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "run" -> out))
    }
    Files.write(Paths.get(out, "trace_spans.jsonl"), lines.asJava)
    all
  }

  def write(t: Tracer, passes: Seq[Harness.Pass], out: String,
      result: mutable.Map[String, Any]): Unit = {
    val all = writeSpans(t, out)
    val traced = passes.filter(_.traced)
    val perPass = traced.map { p =>
      val m = layers(t, all, s"pass:${p.index}")
      m("gc_s") = p.gcMs / 1e3
      m("hygiene.sweep_s") = p.jobs.map(_.sweep).sum
      m("cache.blocks") = p.jobs.map(_.cacheBlocks).sum.toDouble
      m("cache.mib") = p.jobs.map(_.cacheBytes).sum / 1048576.0
      p.jobs.foreach(j => m(s"job.${j.name}_s") = j.build + j.execute)
      m
    }
    val keys = perPass.flatMap(_.keys).distinct
    val med = mutable.LinkedHashMap.empty[String, Double]
    keys.foreach(k => med(k) = median(perPass.map(_.getOrElse(k, 0.0))))
    val seconds = passes.map(p => p.index -> p.seconds).toMap
    med("trace.overhead") = traced.map(p =>
      p.seconds / ((seconds(p.index - 1) + seconds(p.index + 1)) / 2)).sum / traced.size
    result("layers") = med
    result("layers_per_pass") = perPass.map(_.toMap)
  }

  /** `before` and `after` are the untraced rounds on either side of
    * the traced one. */
  def writeStreams(t: Tracer, before: Seq[Streams.HeadRun], traced: Seq[Streams.HeadRun],
      after: Seq[Streams.HeadRun], out: String, result: mutable.Map[String, Any]): Unit = {
    val all = writeSpans(t, out)
    val m = layers(t, all, "streams:traced")
    def drain(rs: Seq[Streams.HeadRun]) = rs.map(_.drainS.sum).sum
    m("trace.overhead") = drain(traced) / ((drain(before) + drain(after)) / 2)
    result("layers") = m
  }
}
