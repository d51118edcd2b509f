package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, StreamingQueryProgress}

import graft.Tables
import graft.streaming.StreamingJobs._

/** The `stream_ingest` workload: each head is fed through a
  * `MemoryStream` by an open-loop generator at a fixed offered rate,
  * then a fixed backlog is drained closed-loop. Every emitted row is
  * kept and compared, after the timed region, with the head's batch
  * twin (the same function over the same feed as a static Dataset). */
object Streams {

  /** `rate` rows/s offered; `backlog` rows per drain; `chunk` rows per
    * `addData` while draining. */
  final case class Head(name: String, rate: Double, backlog: Int, chunk: Int) {
    def offered(offeredS: Double): Int = Prime + math.ceil(rate * offeredS).toInt
    def rows(offeredS: Double, drains: Int): Int = offered(offeredS) + drains * backlog
  }

  /** A head bound to its feed: how to start the stream on a
    * MemoryStream, and how to check the stream's output. */
  trait Bound {
    def head: Head
    /** Start the query over rows [0, n) fed by the returned adder. */
    def start(spark: SparkSession, n: Int, ckpt: String,
        sink: (DataFrame, Long) => Unit): (StreamingQuery, (Int, Int) => Long)
    /** None when the streamed output agrees with the batch twin. */
    def check(spark: SparkSession, n: Int, out: Seq[(Long, Row)]): Option[String]
  }

  private def boundHead[T: Encoder](h: Head, feed: IndexedSeq[T],
      fn: Dataset[T] => DataFrame,
      compare: (Seq[(Long, Row)], Seq[Row]) => Option[String]): Bound = new Bound {
    val head = h
    def start(spark: SparkSession, n: Int, ckpt: String, sink: (DataFrame, Long) => Unit) = {
      val in = MemoryStream[T](spark)
      val q = fn(in.toDS()).writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
      (q, (a: Int, b: Int) => in.addData(feed.slice(a, math.min(b, n))).json().toLong)
    }
    def check(spark: SparkSession, n: Int, out: Seq[(Long, Row)]) = {
      import spark.implicits._
      val twin = fn(spark.createDataset(feed.take(n))).collect().toSeq
      compare(out, twin)
    }
  }

  private def sameMultiset(out: Seq[(Long, Row)], twin: Seq[Row]): Option[String] = {
    val a = out.map(_._2.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val b = twin.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    if (a == b) None else Some(s"streamed ${out.size} rows != batch twin ${twin.size} rows")
  }

  /** Closed sessions emitted by the stream are a sub-multiset of the
    * batch sessions; sessions still open at the end stay in state. The
    * per-user index restarts after a timeout, so the key is
    * (user, start, events, duration). */
  private def sessionsSubset(out: Seq[(Long, Row)], twin: Seq[Row]): Option[String] = {
    def key(r: Row) = (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
      r.getAs[Long]("n_events"), r.getAs[Long]("duration_us"))
    val b = mutable.Map.empty[Any, Int] ++ twin.map(key).groupBy(identity).view.mapValues(_.size)
    val missing = out.map(o => key(o._2)).count { k =>
      val c = b.getOrElse(k, 0); if (c > 0) b(k) = c - 1; c == 0
    }
    if (out.isEmpty) Some("no session was emitted")
    else if (missing == 0) None else Some(s"$missing streamed sessions are not batch sessions")
  }

  /** The last change emitted per user carries the batch twin's latest
    * event, and each user is added exactly once. */
  private def cdcFinal(out: Seq[(Long, Row)], twin: Seq[Row]): Option[String] = {
    val last = out.groupBy(_._2.getAs[Long]("user_id")).view
      .mapValues(_.maxBy(_._1)._2.getAs[Long]("new_event_id")).toMap
    val added = out.count(_._2.getAs[String]("change") == "added")
    val want = twin.map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("new_event_id")).toMap
    if (last == want && added == want.size) None
    else Some(s"final profiles differ (${last.size} streamed users, ${want.size} batch users)")
  }

  /** Copies of a feed until it holds `n` rows. */
  private def extend[T, U](base: IndexedSeq[T], n: Int)(copy: (T, Int) => U): IndexedSeq[U] =
    (0 until n).map(i => copy(base(i % base.size), i / base.size))

  def bind(spark: SparkSession, data: String, heads: Seq[Head], rows: Head => Int): Seq[Bound] = {
    import spark.implicits._
    lazy val cdcBase = Tables.events(spark, data)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .orderBy(col("us"), col("event_id")).as[CdcEv].collect().toIndexedSeq
    // copies follow each other in time, well past the session gap
    lazy val span = cdcBase.last.us - cdcBase.head.us + 4L * 3600 * 1000000
    lazy val idSpan = cdcBase.map(_.event_id).max + 1
    lazy val docs = Tables.documents(spark, data)
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id")).as[(Long, String, String)].collect().toIndexedSeq
    heads.map { h =>
      val n = rows(h)
      h.name match {
        case "stream_sessionize" =>
          val feed = extend(cdcBase, n)((e, c) => Ev(e.user_id, e.us + c * span))
          boundHead[Ev](h, feed, ds => sessionize(ds).toDF(), sessionsSubset)
        case "stream_cdc" =>
          val feed = extend(cdcBase, n)((e, c) =>
            e.copy(event_id = e.event_id + c * idSpan, us = e.us + c * span))
          boundHead[CdcEv](h, feed, ds => cdcStream(ds).toDF(), cdcFinal)
        case "stream_minhash_dedup" =>
          // later copies tag every token, so they are new content; ids
          // follow arrival order, so the stream sees buckets in the
          // same order as its batch twin
          val feed = extend(docs, n) { case ((_, _, t), c) =>
            if (c == 0) t
            else t.split("\\s+").filter(_.nonEmpty).map(_ + ('q' + c).toChar).mkString(" ")
          }.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          boundHead[(Long, String)](h, feed,
            ds => minhashDedupStream(ds.toDF("doc_id", "text")).toDF(), sameMultiset)
        case "stream_curate_amortized" =>
          val feed = extend(docs, n) { case ((id, src, t), c) => (id, src, t, c) }
            .zipWithIndex.map { case ((id, src, t, c), i) =>
              CurateIn(src, i.toLong, id + 10000000L * c, t) }
          boundHead[CurateIn](h, feed, ds => curateStream(ds, 200), sameMultiset)
        case other => sys.error(s"unknown stream head $other")
      }
    }
  }

  /** What one head's run measured, and every (batchId, row) it emitted. */
  final case class HeadRun(name: String, latenciesMs: Seq[Double], lateMs: Seq[Double],
      drainRows: Int, drainS: Seq[Double], progress: Seq[StreamingQueryProgress], heapMiB: Double,
      emitted: Seq[(Long, Row)], error: Option[String])

  private def batchEndMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  private val Prime = 100

  /** Run one head. It is primed with one small batch, so the clock
    * starts on a running query rather than on its first-batch planning.
    * One open-loop generator thread then offers its rows at its rate
    * for `offeredS` seconds: row k is due at t0 + k / rate, and its
    * latency runs from then to the end of the micro-batch that consumed
    * it. Last, its fixed backlog is drained `drains` times, closed loop,
    * `chunk` rows a batch. The workload runs its heads one at a time:
    * concurrent heads share the task threads first-come first-served,
    * and every batch then waits for the other heads' jobs. */
  def runHead(spark: SparkSession, b: Bound, offeredS: Double, drains: Int, dir: String,
      tracer: Option[Tracer], tag: String): HeadRun = {
    val h = b.head
    val headId = s"head:$tag:${h.name}"
    val offered = h.offered(offeredS)
    val out = new ConcurrentLinkedQueue[(Long, Row)]()
    val sink: (DataFrame, Long) => Unit = (df, id) => df.collect().foreach(r => out.add((id, r)))
    val ckpt = Files.createTempDirectory(Paths.get(dir), h.name).toString
    val sc = spark.sparkContext
    val start = tracer.map(_.nowMs())
    // the query's thread inherits the head's span as its jobs' parent
    tracer.foreach(t => sc.setLocalProperty(t.SpanKey, headId))
    val (q, add) = try b.start(spark, h.rows(offeredS, drains), ckpt, sink)
      finally tracer.foreach(t => sc.setLocalProperty(t.SpanKey, null))
    val chunks = mutable.ArrayBuffer.empty[(Int, Int, Long)] // rows [from, to) -> source offset
    val late = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val drainS = mutable.ArrayBuffer.empty[Double]
    var error: Option[String] = None
    var heap = 0.0
    try {
      add(0, Prime)
      q.processAllAvailable()
      val tickNs = 10L * 1000 * 1000
      val t0Ms = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      @volatile var genError: Throwable = null
      val gen = new Thread(() => {
        var next = Prime
        var tick = 1L
        try while (next < offered && q.isActive) {
          val due = t0 + tick * tickNs
          val sleep = due - System.nanoTime()
          if (sleep > 0) Thread.sleep(sleep / 1000000, (sleep % 1000000).toInt)
          late += (System.nanoTime() - due) / 1e6
          val upTo = math.min(offered, Prime + math.floor(tick * tickNs / 1e9 * h.rate).toInt)
          if (upTo > next) {
            chunks += ((next, upTo, add(next, upTo)))
            next = upTo
          }
          tick += 1
        } catch { case e: Throwable => genError = e }
      }, "perfbench-loadgen")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      if (genError != null) throw genError
      q.processAllAvailable()
      val progress = q.recentProgress.toSeq
      chunks.foreach { case (from, to, off) =>
        progress.find(p => p.sources.nonEmpty && p.sources(0).endOffset != null &&
            p.sources(0).endOffset.toLong >= off).foreach { p =>
          val end = batchEndMs(p)
          (from until to).foreach(k => latencies += end - (t0Ms + (k - Prime) * 1000.0 / h.rate))
        }
      }
      (0 until drains).foreach { d =>
        val from = offered + d * h.backlog
        val d0 = System.nanoTime()
        (from until from + h.backlog by h.chunk).foreach { a =>
          add(a, math.min(a + h.chunk, from + h.backlog))
          q.processAllAvailable()
        }
        drainS += (System.nanoTime() - d0) / 1e9
      }
      // the live set with the head's state still loaded
      heap = Harness.heapAfterGc()
    } catch { case e: Throwable => error = Some(String.valueOf(e.getMessage).take(300)) }
    val progress = q.recentProgress.toSeq
    try q.stop() catch { case e: Throwable => if (error.isEmpty) error = Some(String.valueOf(e.getMessage)) }
    tracer.foreach { t =>
      t.add(Span(headId, s"streams:$tag", "head", h.name, start.get, t.nowMs()))
      progress.foreach { p =>
        val end = batchEndMs(p)
        t.add(Span(s"batch:${p.id}:${p.batchId}", headId, "batch", s"${h.name} ${p.batchId}",
          end - p.durationMs.getOrDefault("triggerExecution", 0L).toDouble, end))
      }
    }
    HeadRun(h.name, latencies.toSeq, late.toSeq, if (error.isEmpty) h.backlog else 0, drainS.toSeq,
      progress, heap, out.asScala.toSeq, error)
  }

  def run(spark: SparkSession, args: Map[String, String], out: String, trace: Boolean,
      setupDone: () => Unit, result: mutable.Map[String, Any]): Unit = {
    val heads = args("heads").split(",").toSeq.map { s =>
      val Array(n, r, b, c) = s.split(":"); Head(n, r.toDouble, b.toInt, c.toInt)
    }
    val offeredS = args("offered_s").toDouble
    val drains = args("drains").toInt
    val tw = System.nanoTime()
    val bound = bind(spark, args("data"), heads, _.rows(offeredS, drains))
    // warm: every head briefly at its rate, then one backlog
    bound.map(b => runHead(spark, b, args("warm_offered_s").toDouble, 1, out, None, "warm"))
      .foreach { r =>
        Harness.attempted += 1
        r.error.foreach(e => Harness.failures += ((r.name, "warm", e)))
      }
    result("warm_pass_s") = (System.nanoTime() - tw) / 1e9
    setupDone()

    def timed(tracer: Option[Tracer], tag: String): Seq[HeadRun] = {
      tracer.foreach(_.enable())
      val runs = bound.map(b => runHead(spark, b, offeredS, drains, out, tracer, tag))
      tracer.foreach(_.disable())
      bound.zip(runs).foreach { case (b, r) =>
        Harness.attempted += math.max(1, r.progress.size)
        r.error match {
          case Some(e) => Harness.failures += ((r.name, "stream", e))
          case None => b.check(spark, b.head.rows(offeredS, drains), r.emitted)
            .foreach(e => Harness.failures += ((r.name, "twin", e)))
        }
      }
      runs
    }

    val t0 = System.nanoTime()
    val plain = timed(None, "plain")
    result("timed_s") = (System.nanoTime() - t0) / 1e9
    result("heads") = plain.map(headJson)
    result("loadgen_late_ms") = plain.flatMap(_.lateMs)
    result("heap_after_gc_mib") = plain.map(_.heapMiB).max
    if (trace) {
      val tracer = new Tracer(spark)
      val t1 = tracer.nowMs()
      val traced = timed(Some(tracer), "traced")
      tracer.add(Span("streams:traced", "run", "pass", "streams", t1, tracer.nowMs()))
      // an untraced round on either side of the traced one, as heads
      // still speed up from round to round
      TraceReport.writeStreams(tracer, plain, traced, timed(None, "after"), out, result)
    }
  }

  def headJson(r: HeadRun): Map[String, Any] = {
    def sumState(p: StreamingQueryProgress, f: StateOperatorProgress => Long) =
      p.stateOperators.map(f).sum
    val last = r.progress.lastOption
    Map(
      "name" -> r.name, "error" -> r.error, "latencies_ms" -> r.latenciesMs,
      "drain_rows" -> r.drainRows, "drain_s" -> r.drainS, "batches" -> r.progress.size,
      "add_batch_ms" -> r.progress.map(_.durationMs.getOrDefault("addBatch", 0L).toLong),
      "plan_ms" -> r.progress.map(_.durationMs.getOrDefault("queryPlanning", 0L).toLong),
      "wal_ms" -> r.progress.map(_.durationMs.getOrDefault("walCommit", 0L).toLong),
      "state_commit_ms" -> r.progress.map(p => sumState(p, _.commitTimeMs)),
      "state_rows" -> last.map(p => sumState(p, _.numRowsTotal)).getOrElse(0L),
      "state_bytes" -> last.map(p => sumState(p, _.memoryUsedBytes)).getOrElse(0L))
  }
}
