package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, GraftServer, QueryRunner, SparkEntry}
import graft.sources.{ZPartitionBy, ZTable, ZTableSpec}

/** The JVM half of the benchmark: runs one workload against the graft
  * engine from a plan file run.py wrote (inputs, request mix, run
  * length), and writes raw samples to a result file. run.py turns
  * samples into metrics and checks every output against answers it
  * computed independently.
  *
  * Usage: Main <plan.json> <result.json> */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val started = System.nanoTime()
  /** Phase marks on stderr, with seconds since this JVM started. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] ${secs(started)}%7.2f $what")

  /** Bench's between-rows hygiene: drop cached and pinned blocks. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Analysis + optimization + planning time of every finished query
    * execution, from its planning tracker (traced runs only). */
  final class PlanTimes extends QueryExecutionListener {
    val ms = new ConcurrentLinkedQueue[java.lang.Double]()
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      ms.add(qe.tracker.phases.filter { case (k, _) => k != "parsing" }
        .values.map(_.durationMs).sum.toDouble)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def all: Seq[Double] = ms.asScala.map(_.doubleValue).toSeq
  }

  /** Per-trigger phase durations of every streaming query that read
    * rows (traced runs only). */
  final class Progress extends StreamingQueryListener {
    val triggers = new ConcurrentLinkedQueue[Map[String, Long]]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        triggers.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  /** A workload run: its setup rounds and measured samples, plus the
    * layer counters of the measured region when tracing. */
  final case class Ctx(spark: SparkSession, plan: JsonNode, work: String,
      cpus: Int, seconds: Double, counters: Counters, planTimes: PlanTimes,
      progress: Progress) {
    def sc = spark.sparkContext
    def str(k: String): String = plan.get(k).asText
    def int(k: String): Int = plan.get(k).asInt
    def strs(k: String): Seq[String] = plan.get(k).elements.asScala.map(_.asText).toSeq

    /** Runs `f` as the measured region; when tracing, returns the
      * scheduler/scan/shuffle counters and JVM figures it moved. */
    def measured[T](f: => T): (T, Map[String, Any]) = {
      if (!Trace.on) return (f, Map.empty)
      val before = counters.snapshot(sc)
      val plansBefore = planTimes.all.size
      val triggersBefore = progress.triggers.size
      val opJobsBefore = counters.jobsByOp
      JvmStats.reset()
      val t0 = System.nanoTime()
      val r = f
      val wall = secs(t0)
      JvmStats.sample(sc)
      val d = Counters.diff(counters.snapshot(sc), before)
      (r, d ++ Map(
        "wall_s" -> wall, "slots" -> cpus,
        "plan_ms" -> planTimes.all.drop(plansBefore),
        "triggers" -> progress.triggers.asScala.toSeq.drop(triggersBefore),
        "jobs_by_op" -> Counters.diff(counters.jobsByOp, opJobsBefore),
        "gc_s" -> JvmStats.gcSeconds, "heap_peak_mb" -> JvmStats.heapPeakMb,
        "pins_live_max" -> JvmStats.pinsMax,
        "blockstore_mem_used_mb" -> JvmStats.blockMemMaxBytes / 1048576.0))
    }

    def tag(op: String): Unit = sc.setLocalProperty(Counters.OpKey, op)
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val work = plan.get("work").asText
    val cpus = plan.get("cpus").asInt
    Trace.on = plan.get("trace").asBoolean
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    mark("session up")
    val counters = new Counters
    val planTimes = new PlanTimes
    val progress = new Progress
    if (Trace.on) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(planTimes)
      spark.streams.addListener(progress)
    }
    val ctx = Ctx(spark, plan, work, cpus, plan.get("seconds").asDouble,
      counters, planTimes, progress)
    val result = try {
      val body = plan.get("workload").asText match {
        case "board" => Board.run(ctx)
        case "serve" => Serve.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      mark("workload done")
      // the frozen box probe, after the measured region so it cannot
      // disturb it; recorded with every result
      body ++ Map("session_s" -> sessionS, "cal0_s" -> Bench.cal0(spark),
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> JvmStats.heapMaxMb)
    } finally spark.stop()
    mark("session stopped")
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(result))
    if (Trace.on) {
      val lines = Trace.all.map(s => mapper.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end)))
      Files.write(Paths.get(work, "spans.jsonl"), lines.asJava)
    }
  }
}

import Main._

/** `board`: a fixed subset of SparkEntry.queries, each row built and
  * written through the noop sink, with Bench's sweep between rows. */
object Board {
  def run(c: Ctx): Map[String, Any] = {
    val spark = c.spark
    val dir = c.str("data")
    val rows = c.strs("rows")
    val fns = rows.map(r => r -> SparkEntry.queries(r))
    // Bench's warm-up: open and count every table
    val setup = (0 until c.int("setup_rounds")).map { _ =>
      val t0 = System.nanoTime()
      c.strs("tables").foreach(t => graft.Tables.load(spark, dir, t).count())
      secs(t0)
    }
    mark("setup done")
    // untimed check pass: every row's output lands as parquet for
    // run.py's DuckDB comparison; it also warms every row up
    val checkFailed = fns.flatMap { case (name, fn) =>
      try {
        fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"${c.work}/check/$name")
        None
      } catch { case e: Throwable => Some(name -> String.valueOf(e.getMessage).take(300)) }
      finally sweep(spark)
    }.toMap
    mark("check pass done")
    var failed = 0
    // pass k starts at row k: what a row leaves running behind it (the
    // streaming row's query threads, a collection it provokes) lands on
    // a different row each pass instead of always the same one
    def pass(k: Int): Map[String, Double] = {
      val order = fns.drop(k % fns.size) ++ fns.take(k % fns.size)
      order.flatMap { case (name, fn) =>
        c.tag(name)
        val r0 = System.nanoTime()
        try {
          val df = Trace.span("board.construct", name)(fn(spark, dir))
          Trace.span("board.exec", name)(df.write.format("noop").mode("overwrite").save())
          Some(name -> ms(r0))
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          failed += 1
          None
        } finally {
          if (Trace.on) JvmStats.sample(c.sc)
          sweep(spark)
        }
      }.toMap
    }
    // two untimed passes first: after the check pass alone, each pass is
    // still faster than the one before it while the JIT settles. They
    // record no spans, so the span totals cover the timed passes only.
    val tracing = Trace.on
    Trace.on = false
    (0 until 2).foreach(pass)
    Trace.on = tracing
    mark("warm passes done")
    // at least three passes, then more while one more still fits the run
    val (passes, layers) = c.measured {
      val t0 = System.nanoTime()
      val out = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
      while (out.size < 3 || secs(t0) * (out.size + 1) / out.size <= c.seconds)
        out += pass(out.size)
      out.toSeq
    }
    Map("setup_rounds_s" -> setup, "passes" -> passes,
      "failed" -> failed, "check_failed" -> checkFailed,
      "oracle_sql" -> rows.map(r => r -> SparkEntry.oracleSql(r)).toMap,
      "construct_s" -> Trace.ms("board.construct").sum / 1e3,
      "exec_s" -> Trace.ms("board.exec").sum / 1e3,
      "layers" -> layers)
  }
}

/** `serve`: a GraftServer over a seeded tick ZTable, driven over HTTP by
  * a closed loop of 1 then `cpus` clients. */
object Serve {
  final case class Req(op: String, method: String, path: String,
      body: Option[String], qr: String)
  final case class Rec(idx: Int, ms: Double, code: Int, body: Array[Byte])

  private def req(n: JsonNode): Req = Req(n.get("op").asText,
    n.get("method").asText, n.get("path").asText,
    Option(n.get("body")).filterNot(_.isNull).map(_.asText), n.get("qr").asText)

  def send(port: Int, r: Req, table: String): (Int, Array[Byte]) = {
    val conn = URI.create(s"http://127.0.0.1:$port${r.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(r.method)
    r.body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("content-type", "application/json")
      val os = conn.getOutputStream
      try os.write(b.replace("$TABLE", table).getBytes(UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    try (code, if (is == null) Array.emptyByteArray else is.readAllBytes())
    finally if (is != null) is.close()
  }

  /** Closed loop: each client sends its next request when the previous
    * reply is in, until `seconds` have passed. Requests are taken in
    * mix order from `next`, wrapping. Returns records and phase wall. */
  def phase(c: Ctx, port: Int, table: String, reqs: IndexedSeq[Req],
      clients: Int, next: AtomicInteger, seconds: Double): (Seq[Rec], Double) = {
    val recs = new ConcurrentLinkedQueue[Rec]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val i = next.getAndIncrement() % reqs.size
          val s = System.nanoTime()
          val (code, body) =
            try send(port, reqs(i), table)
            catch { case e: Exception => (-1, String.valueOf(e).getBytes(UTF_8)) }
          recs.add(Rec(i, ms(s), code, body))
          if (Trace.on) JvmStats.sample(c.sc)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (recs.asScala.toSeq, secs(t0))
  }

  private def cents(n: JsonNode): Long = math.round(n.asDouble * 100)

  /** Op-specific count and checksum of one reply body. */
  def digest(op: String, body: Array[Byte]): Map[String, Any] = {
    val j = mapper.readTree(body)
    op match {
      case o if o.startsWith("ohlcv") =>
        val series = j.get("results").elements.asScala.toSeq
        def sumOf(k: String, f: JsonNode => Long) =
          series.map(s => s.get(k).elements.asScala.map(f).sum).sum
        Map("rows" -> series.map(_.get("t").size).sum,
          "vol" -> sumOf("v", _.asLong), "open_c" -> sumOf("o", cents),
          "high_c" -> sumOf("h", cents), "low_c" -> sumOf("l", cents),
          "close_c" -> sumOf("c", cents))
      case "symbols" =>
        val syms = j.elements.asScala.map(_.asText).toSeq
        val crc = new java.util.zip.CRC32()
        crc.update(syms.mkString("\n").getBytes(UTF_8))
        Map("rows" -> syms.size, "crc" -> crc.getValue)
      case "scan" =>
        val rows = j.elements.asScala.toSeq
        Map("rows" -> rows.size, "price_c" -> rows.map(r => cents(r.get("price"))).sum,
          "size" -> rows.map(_.get("size").asLong).sum)
      case "sql" =>
        val rows = j.elements.asScala.toSeq
        Map("rows" -> rows.size, "n" -> rows.map(_.get("n").asLong).sum,
          "vol" -> rows.map(_.get("vol").asLong).sum,
          "vwap" -> rows.map(_.get("vwap").asDouble).sum)
      case "range" =>
        val r = j.get(0)
        def epochMs(k: String) =
          java.time.OffsetDateTime.parse(r.get(k).asText).toInstant.toEpochMilli
        Map("rows" -> j.size, "first_ms" -> epochMs("first_ts"),
          "last_ms" -> epochMs("last_ts"))
    }
  }

  def run(c: Ctx): Map[String, Any] = {
    val spark = c.spark
    val reqs = c.plan.get("requests").elements.asScala.map(req).toIndexedSeq
    val warm = c.plan.get("warm").elements.asScala.map(req).toSeq
    var server: GraftServer = null
    var port = 0
    var root = ""
    def warmUp(rs: Seq[Req]): Unit = rs.foreach { r =>
      val (code, body) = send(port, r, s"$root/ticks")
      require(code == 200, s"warm-up ${r.path} -> $code ${new String(body, UTF_8)}")
    }
    // a round builds the table from the generated ticks and starts a
    // server that answers its first request
    val setup = (0 until c.int("setup_rounds")).map { i =>
      if (server != null) server.stop()
      val t0 = System.nanoTime()
      root = s"${c.work}/serve/root$i"
      val t = ZTable.create(spark, s"$root/ticks",
        ZTableSpec(tsCol = "ts", partitionBy = ZPartitionBy.Day))
      t.append(spark.read.parquet(c.str("ticks")))
      server = new GraftServer(spark, root, 0, c.cpus)
      port = server.start()
      warmUp(warm.take(1))
      secs(t0)
    }
    // untimed: two blocks of the mix from `cpus` clients, so the planner
    // and operator code paths are compiled before the clock starts
    val warmers = warm.grouped((warm.size + c.cpus - 1) / c.cpus).toSeq
      .map(rs => new Thread(() => warmUp(rs)))
    warmers.foreach(_.start())
    warmers.foreach(_.join())
    mark("setup and warm-up done")
    val table = s"$root/ticks"
    try {
      val ((c1, c4), layers) = c.measured {
        // one client completes about half the requests per second that
        // `cpus` clients do, so it gets the larger share of the time; a
        // median over its requests and a mean over the others' then rest
        // on about as many samples each. The two phases alternate, twice
        // each, so that both sample the whole run: on a shared host the
        // speed drifts within a run too.
        val next1 = new AtomicInteger(0)
        val next4 = new AtomicInteger(reqs.size / 2)
        val rounds = (0 until 2).map { _ =>
          val p1 = Trace.span("serve.c1", "c1")(
            phase(c, port, table, reqs, 1, next1, c.seconds * 0.3))
          val p4 = Trace.span("serve.c4", "c4")(
            phase(c, port, table, reqs, c.cpus, next4, c.seconds * 0.2))
          (p1, p4)
        }
        def joined(ps: Seq[(Seq[Rec], Double)]) = (ps.flatMap(_._1), ps.map(_._2).sum)
        (joined(rounds.map(_._1)), joined(rounds.map(_._2)))
      }
      def recs(p: (Seq[Rec], Double)) = p._1.map { r =>
        val d = if (r.code == 200) {
          try digest(reqs(r.idx).op, r.body)
          catch { case e: Exception => Map("error" -> String.valueOf(e)) }
        } else Map("error" -> new String(r.body, UTF_8).take(300))
        Map("idx" -> r.idx, "ms" -> r.ms, "status" -> r.code,
          "bytes" -> r.body.length, "digest" -> d)
      }
      // attribution (traced runs): the c1 requests again, in process
      // through QueryRunner, so build and execute time can be split, plus
      // the first request of any op the c1 phase did not reach
      val c1Idx = c1._1.map(_.idx)
      val missing = reqs.map(_.op).distinct.filterNot(op => c1Idx.exists(reqs(_).op == op))
      val replayIdx = c1Idx ++ missing.map(op => reqs.indexWhere(_.op == op))
      val replay = if (!Trace.on) Nil else replayIdx.map { i =>
        val q = reqs(i)
        val id = s"r$i"
        c.tag(q.op)
        val jobs0 = c.counters.jobs.sum
        val t0 = System.nanoTime()
        val df = Trace.span("queryrunner.build", id)(
          QueryRunner.run(spark, q.qr.replace("$TABLE", table), Some(root)))
        val buildMs = ms(t0)
        val t1 = System.nanoTime()
        val json = df.toJSON
        val out = Trace.span("queryrunner.exec", id)(json.collect())
        val execMs = ms(t1)
        val plan = json.queryExecution.tracker.phases
          .filter { case (k, _) => k != "parsing" }.values.map(_.durationMs).sum
        org.apache.spark.PerfbenchBridge.drain(c.sc)
        Map("idx" -> i, "op" -> q.op, "build_ms" -> buildMs,
          "exec_ms" -> execMs, "plan_ms" -> plan, "rows" -> out.length,
          "jobs" -> (c.counters.jobs.sum - jobs0))
      }
      Map("setup_rounds_s" -> setup,
        "c1" -> recs(c1), "c1_wall_s" -> c1._2,
        "c4" -> recs(c4), "c4_wall_s" -> c4._2, "c4_clients" -> c.cpus,
        "replay" -> replay, "layers" -> layers)
    } finally server.stop()
  }
}
