package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.{DfCache, Tables}
import graft.streaming.Streams

/** Runs one workload in one JVM and writes its raw samples as JSON; the
  * Python front end (`run.py`) turns them into metrics.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir> <out.json>
  *
  * `runDir` is private to this run: Spark's local dirs and the stream's
  * source, sink and checkpoint live there. */
object Main {

  /** Reference surface (stage 2 + stage 3 ports), then a frozen sample of
    * the sub-second band: every 80th name of the band in the r17 bench
    * sidecar, plus the four queries that launch jobs while the DataFrame
    * is being built. */
  val Interactive: Seq[String] = Seq(
    "q01_product_facts", "q02_rep_facts", "q03_quarterly_totals",
    "q04_product_quarterly", "q05_top_product", "q06_rep_totals",
    "q07_top5_reps", "q08_quarterly_trend", "q09_union_batches",
    "q10_first_seen_keys", "q11_fk_left_join", "q12_key_fixup",
    "q135_incremental_facts", "q136_snapshot_diff",
    "q100_hll_union", "q194_theil_sen", "q281_price_volume_mix",
    "q364_neyman_allocation",
    "q117_leakage_safe_split", "q139_data_expectations",
    "q232_transition_entropy", "q354_jl_distortion")

  /** LLM-curation and iterative-graph queries whose shared builds
    * (shingles, MinHash, SimHash signatures, connected-component and LPA
    * edges) are paid inside each pass. */
  val BatchCold: Seq[String] = Seq(
    "q32_dedup_minhash", "q33_dedup_simhash", "q106_jaccard_prefix",
    "q204_exact_substr", "q162_top_component", "q266_lpa_communities")

  final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
      seconds: Double, traced: Boolean, dataDir: String, runDir: Path)

  /** What a run hands back besides the spans. */
  final class Out {
    var setupS = Double.NaN
    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val fingerprints = mutable.LinkedHashMap.empty[String, Json.Obj]
    val failures = mutable.ArrayBuffer.empty[Json.Obj]
    var attempted = 0L
    val extra = mutable.LinkedHashMap.empty[String, Any]
    def fail(name: String, e: Throwable): Unit = {
      System.err.println(s"[perfbench] $name failed: $e")
      failures += Json.Obj("name" -> name, "error" -> String.valueOf(e.getMessage).take(300))
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, runDir, outFile) = args
    val run = Paths.get(runDir)
    val spark = session(run)
    val ctx = Ctx(spark, new Tracer(spark, s"$workload-$seed"), seed.toLong,
      seconds.toDouble, trace == "1", dataDir, run)
    val out = new Out
    try workload match {
      case "interactive" => interactive(ctx, out)
      case "batch_cold" => batchCold(ctx, out)
      case "stream_ingest" => streamIngest(ctx, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      if (ctx.traced) ctx.tracer.detach()
    }
    val json = Json.Obj(
      "workload" -> workload,
      "setup_s" -> out.setupS,
      "passes" -> out.passes.toSeq,
      "fingerprints" -> out.fingerprints.toMap,
      "failures" -> out.failures.toSeq,
      "attempted" -> out.attempted,
      "peak_rss_mb" -> peakRssMb(),
      "extra" -> out.extra.toMap,
      "spans" -> (if (ctx.traced) ctx.tracer.spans.map(spanJson) else Nil),
      "executions" -> ctx.tracer.executions.toSeq.map { case (id, (span, ph)) =>
        Json.Obj("id" -> id, "span" -> span, "phases" -> ph) },
      "stream_progress" -> ctx.tracer.streamProgress)
    Files.writeString(Paths.get(outFile), Json.render(json))
    spark.stop()
  }

  def session(run: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", run.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- closed loops: interactive and batch_cold ----

  private def query(ctx: Ctx, name: String): DataFrame =
    SparkEntry.queries(name)(ctx.spark, ctx.dataDir)

  /** Runs every query once, in name order, collecting its result for the
    * golden fingerprint. On a fresh JVM this is also the JIT and codegen
    * warm-up, and it fills the OS page cache with the input files. */
  private def fingerprintPass(ctx: Ctx, out: Out, names: Seq[String]): Unit =
    names.sorted.foreach { n =>
      ctx.spark.sparkContext.setLocalProperty(Tags.Query, n)
      ctx.spark.sparkContext.setLocalProperty(Tags.Phase, "fingerprint")
      try out.fingerprints(n) = Fingerprint.of(query(ctx, n))
      catch { case NonFatal(e) => out.fail(n, e) }
      finally out.attempted += 1
    }

  /** One pass: each query is built (the `fn(spark, dir)` call) and then
    * executed through the `noop` sink, each phase in its own span. In a
    * traced run every other query of `names` is traced, starting with the
    * second on even passes and the first on odd ones. */
  private def pass(ctx: Ctx, out: Out, names: Seq[String], order: Seq[String],
      idx: Int): Unit = {
    val times = mutable.ArrayBuffer.empty[Json.Obj]
    val t0 = Clock.epochMs()
    ctx.tracer.span("pass", s"pass $idx") {
      order.foreach { n =>
        val traced = ctx.traced && Tracer.traced(idx + names.indexOf(n))
        val q0 = Clock.epochMs()
        val ok = try {
          ctx.tracer.span("query", n, Tags.Query -> n, Tags.Traced -> (if (traced) "1" else "0")) {
            ctx.tracer.attr("traced", if (traced) 1 else 0)
            val df = ctx.tracer.span("build", n, Tags.Phase -> "build") {
              val df = query(ctx, n)
              // the DataFrame is analysed while it is built
              df.queryExecution.tracker.phases.get("analysis")
                .foreach(p => ctx.tracer.attr("analysis_ms", p.durationMs.toDouble))
              df
            }
            ctx.tracer.span("action", n, Tags.Phase -> "action") {
              df.write.format("noop").mode("overwrite").save()
            }
          }
          true
        } catch { case NonFatal(e) => out.fail(n, e); false }
        out.attempted += 1
        if (ok) times += Json.Obj("name" -> n, "ms" -> (Clock.epochMs() - q0), "traced" -> traced)
      }
    }
    val wall = Clock.epochMs() - t0
    val builds = DfCache.drainBuildTimes(ctx.spark)
    out.passes += Json.Obj("wall_ms" -> wall, "queries" -> times.toSeq,
      "dfcache_build_s" -> builds.values.sum, "dfcache_builds" -> builds.size,
      "dfcache_bytes" -> cachedBytes(ctx.spark))
  }

  /** Whole passes, at least one, until `seconds` have gone by; a traced
    * run makes an even number of passes, at least two, so each query runs
    * as often traced as untraced. */
  private def loop(ctx: Ctx, out: Out, names: Seq[String],
      beforePass: () => Unit): Unit = {
    val rng = new scala.util.Random(ctx.seed)
    val min = if (ctx.traced) 2 else 1
    if (ctx.traced) ctx.tracer.attach()
    val t0 = System.nanoTime()
    var n = 0
    while (n < min || (System.nanoTime() - t0) / 1e9 < ctx.seconds ||
        (ctx.traced && n % 2 == 1)) {
      beforePass()
      pass(ctx, out, names, rng.shuffle(names), n)
      n += 1
    }
  }

  private def timedSetup(out: Out)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    out.setupS = (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop, one client, warm `DfCache`: the shared builds run in
    * setup, so a pass times Catalyst, scheduling and the driver. */
  def interactive(ctx: Ctx, out: Out): Unit = {
    DfCache.enableBuildTiming()
    timedSetup(out) {
      fingerprintPass(ctx, out, Interactive)
      val builds = DfCache.drainBuildTimes(ctx.spark)
      out.extra("setup_dfcache_build_s") = builds.values.sum
      out.extra("setup_dfcache_builds") = builds.size
    }
    loop(ctx, out, Interactive, () => ())
  }

  /** Closed loop over the heavy band with `DfCache` cleared before each
    * pass, so every pass pays the shared builds. */
  def batchCold(ctx: Ctx, out: Out): Unit = {
    DfCache.enableBuildTiming()
    timedSetup(out) {
      fingerprintPass(ctx, out, BatchCold)
      coldCache(ctx)
    }
    loop(ctx, out, BatchCold, () => coldCache(ctx))
  }

  /** `DfCache.clear` unpersists asynchronously, and some queries persist
    * or locally checkpoint RDDs of their own that only the context cleaner
    * frees, after a GC: unpersist whatever is left and wait until Spark
    * holds no persisted RDD, so a pass never reads a block of the last. */
  private def coldCache(ctx: Ctx): Unit = {
    DfCache.clear(ctx.spark)
    DfCache.drainBuildTimes(ctx.spark)
    val sc = ctx.spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (sc.getPersistentRDDs.nonEmpty) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("persisted RDDs survived DfCache.clear")
      Thread.sleep(5)
    }
  }

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  // ---- open loop: stream_ingest ----

  /** Files land in the watched directory at this fixed rate, below the
    * roughly 2 files/s one `upsertBatch` per file sustains on 4 cores. */
  val StreamRatePerS = 1.25
  /** The stream needs this many measured files so its median has ten
    * samples above it. */
  val StreamMinFiles = 20
  /** Files landed in setup, at the same rate, to warm the stream up. */
  val StreamWarmFiles = 6

  /** Open loop: the `events` table, split into seeded files, lands one file
    * per interval in a watched directory; an `eventsStream` with one file
    * per trigger upserts each batch into a versioned sink. */
  def streamIngest(ctx: Ctx, out: Out): Unit = {
    val spark = ctx.spark
    val nFiles = math.max(StreamMinFiles, math.ceil(ctx.seconds * StreamRatePerS).toInt)
    val total = StreamWarmFiles + nFiles
    val staging = ctx.runDir.resolve("stream-staging")
    val watched = ctx.runDir.resolve("stream-source")
    val sink = ctx.runDir.resolve("stream-sink").toString
    Files.createDirectories(watched)
    // commit time by batch id: with one file per trigger and files landing
    // in modification-time order, batch i holds the i-th landed file
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
    val upsert: (DataFrame, Long) => Unit = { (batch, id) =>
      val i = id - StreamWarmFiles
      val traced = if (ctx.traced && i >= 0 && Tracer.traced(i)) "1" else "0"
      ctx.tracer.span("batch", s"batch $id", Tags.Query -> "stream", Tags.Phase -> "sink",
          Tags.Traced -> traced) {
        ctx.tracer.attr("traced", traced.toDouble)
        ctx.tracer.attr("warmup", if (i < 0) 1 else 0)
        ctx.tracer.span("sink", s"upsert $id")(Streams.upsertBatch(sink)(batch, id))
      }
      commits.put(id, Double.box(Clock.epochMs()))
    }
    val intervalMs = 1000.0 / StreamRatePerS
    /** Lands `files` one per interval from the next interval on; returns
      * each file's due time and the time it actually landed. */
    def land(files: Seq[Path], first: Int): (Seq[Double], Seq[Double]) = {
      val t0 = Clock.epochMs() + intervalMs
      files.zipWithIndex.map { case (src, i) =>
        val due = t0 + i * intervalMs
        val wait = due - Clock.epochMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.setLastModifiedTime(src,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
        Files.move(src, watched.resolve(f"events-${first + i}%04d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        (due, Clock.epochMs())
      }.unzip
    }
    var stream: org.apache.spark.sql.streaming.StreamingQuery = null
    def awaitCommits(n: Int): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (commits.size < n && stream.exception.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    var files: Seq[Path] = Nil
    timedSetup(out) {
      val staged = split(ctx, staging, total)
      files = landingOrder(total, ctx.seed).map(staged)
      stream = Streams.eventsStream(spark, watched.toString, maxFilesPerTrigger = Some(1))
        .writeStream
        .option("checkpointLocation", ctx.runDir.resolve("stream-checkpoint").toString)
        .foreachBatch(upsert)
        .start()
      land(files.take(StreamWarmFiles), 0)
      awaitCommits(StreamWarmFiles)
    }
    if (ctx.traced) ctx.tracer.attach()
    val (due, sent) = land(files.drop(StreamWarmFiles), StreamWarmFiles)
    awaitCommits(total)
    stream.stop()
    stream.exception.foreach(e => out.fail("stream", e))
    out.attempted += nFiles
    val missing = total - commits.size
    if (missing > 0) out.fail("stream", new IllegalStateException(s"$missing files never committed"))
    out.passes += Json.Obj(
      "due_ms" -> due, "sent_ms" -> sent,
      "commit_ms" -> (StreamWarmFiles until total).map(i =>
        Option(commits.get(i.toLong)).map(_.doubleValue).getOrElse(Double.NaN)))
    out.extra("state_bytes") = dirBytes(Paths.get(sink))
    out.attempted += 1
    try {
      val bad = stateMismatches(ctx, sink)
      if (bad > 0) out.fail("stream_state", new IllegalStateException(s"$bad users differ from batch groupBy"))
    } catch { case NonFatal(e) => out.fail("stream_state", e) }
  }

  /** Splits `events` into `n` files of consecutive time ranges (sorted by
    * `ts`), written as parquet with microsecond timestamps like the source. */
  private def split(ctx: Ctx, staging: Path, n: Int): Map[Int, Path] = {
    val spark = ctx.spark
    val events = Tables.events(spark, ctx.dataDir)
    val rows = events.count()
    val per = (rows + n - 1) / n
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try events.withColumn("file", ((row_number().over(w) - 1) / per).cast("int"))
      .repartition(n, col("file"))
      .write.partitionBy("file").parquet(staging.toString)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    (0 until n).map { f =>
      val part = Files.list(staging.resolve(s"file=$f")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(part.size == 1, s"split file $f has ${part.size} parts")
      f -> part.head
    }.toMap
  }

  /** File landing order: time order, except that the seed swaps some
    * neighbouring pairs, so those files arrive out of time order. */
  def landingOrder(n: Int, seed: Long): Seq[Int] = {
    val rng = new scala.util.Random(seed)
    val a = (0 until n).toArray
    var i = 0
    while (i + 1 < n) {
      if (rng.nextDouble() < 0.2) { val t = a(i); a(i) = a(i + 1); a(i + 1) = t; i += 2 }
      else i += 1
    }
    a.toSeq
  }

  /** Users whose upserted count or sum differs from a batch groupBy over
    * the whole `events` table (sums to a relative 1e-9: batches add them
    * in a different order). */
  private def stateMismatches(ctx: Ctx, sink: String): Long = {
    val state = Streams.upsertState(ctx.spark, sink)
    val batch = Tables.events(ctx.spark, ctx.dataDir).groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    state.join(batch, Seq("user_id"), "full_outer")
      .where(col("n_events").isNull || col("n").isNull ||
        col("n_events") =!= col("n") ||
        abs(col("total_value") - col("v")) > lit(1e-9) * greatest(abs(col("v")), lit(1.0)))
      .count()
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def spanJson(s: Span): Json.Obj = Json.Obj(
    "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
    "name" -> s.name, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs.toMap)
}

/** Row count and a hash of the rows in result order. */
object Fingerprint {
  def of(df: DataFrame): Json.Obj = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0L
    df.toLocalIterator().asScala.foreach { r =>
      md.update(render(r).getBytes(UTF_8)); md.update('\n'.toByte); n += 1
    }
    Json.Obj("rows" -> n, "hash" -> md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case o => o.toString
  }
}

/** Minimal JSON writer for the run's output. */
object Json {
  final case class Obj(fields: (String, Any)*)

  def render(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
