package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.operators.Scratch

/** One benchmark run in one JVM: set up a session, run a warm-up pass of
  * the workload's keys over the warm-up corpus, then one cold pass over
  * each copy of the workload corpus (`--corpora`, the same files under
  * distinct paths, so every copy misses the session's memoized artifacts),
  * then the warm passes over the last copy. The timed passes write to the
  * noop sink. A last, untimed check pass over that copy writes each key's
  * output as parquet for the oracle check, so the check reads what the
  * warm passes' reuse path produces. Every layer is reached through its
  * public entry point:
  * `SparkEntry.queries(k)(spark, dir)` (eager), the write of the frame it
  * returns (action), `Scratch.pendingCount` and `Scratch.release`.
  *
  * Writes `result.json` (and `trace.jsonl` when traced) into `--out`.
  * `perfbench/run.py` launches it; see perfbench/README.md.
  */
object Harness {
  private val MB = 1024.0 * 1024.0

  final case class KeyCall(key: String, wallS: Double, eagerS: Double,
      actionS: Double, releaseS: Double, pending: Int, compiles: Long, compileS: Double,
      error: Option[String], counters: Counters, selfS: Double)

  final case class Pass(name: String, kind: String, traced: Boolean, wallS: Double,
      calls: Seq[KeyCall], cachedMb: Double, cachedRdds: Int, tmpDiskMb: Double)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val keys = a("keys").split(",").toSeq
    val seed = a("seed").toLong
    val warmPasses = a("warm-passes").toInt
    val traced = a("trace") == "1"
    val out = Paths.get(a("out"))
    val localDir = Paths.get(a("local-dir"))
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", localDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    val clock0 = System.nanoTime()
    val epoch0Us = nowUs()
    def epochUs(nano: Long): Long = epoch0Us + (nano - clock0) / 1000
    val runSpan = tracer.newId()

    def order(pass: Int): Seq[String] = new Random(seed * 1000003L + pass).shuffle(keys)

    def footprint(): (Double, Int, Double) = {
      val rdds = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      (rdds.map(i => i.memSize + i.diskSize).sum / MB, rdds.length,
        (dirBytes(tmpDir) + dirBytes(localDir)) / MB)
    }

    def runKey(pass: String, passSpan: Long, k: String, dir: String, trace: Boolean,
        sink: Option[Path]): KeyCall = {
      val keySpan = tracer.newId(); val eagerSpan = tracer.newId(); val actionSpan = tracer.newId()
      def phase(name: String, span: Long): Unit = if (trace) {
        sc.setLocalProperty(tracer.KeyProp, keySpan.toString)
        sc.setLocalProperty(tracer.SpanProp, span.toString)
        sc.setLocalProperty(tracer.PhaseProp, name)
      }
      if (trace) tracer.currentKey = keySpan
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      var error: Option[String] = None
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      try {
        phase("eager", eagerSpan)
        val df = SparkEntry.queries(k)(spark, dir)
        t1 = System.nanoTime()
        phase("action", actionSpan)
        sink match {
          case Some(to) => df.coalesce(1).write.mode("overwrite").parquet(to.toString)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      } catch {
        case e: Throwable =>
          error = Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          System.err.println(s"[perfbench] $pass $k failed: ${error.get}")
      }
      t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      val pending = Scratch.pendingCount(spark)
      Scratch.release(spark)
      val t3 = System.nanoTime()
      Seq(tracer.KeyProp, tracer.SpanProp, tracer.PhaseProp).foreach(sc.setLocalProperty(_, null))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val compileS = (CodeGenerator.compileTime - ct0) / 1e9
      val counters = if (trace) { tracer.drain(); tracer.take(keySpan) } else new Counters
      var selfS = 0.0
      if (trace) {
        tracer.record(Span(keySpan, passSpan, "key", k, epochUs(t0), epochUs(t3),
          Map("ok" -> error.isEmpty, "compiles" -> compiles,
            "scratch_pending" -> pending)))
        tracer.record(Span(eagerSpan, keySpan, "eager", k, epochUs(t0), epochUs(t1)))
        tracer.record(Span(actionSpan, keySpan, "action", k, epochUs(t1), epochUs(t2)))
        // driver-side self time: the key's wall time not covered by any of its jobs
        val jobIv = tracer.allSpans.filter(s => s.kind == "job" &&
          s.attrs.get("key_span").contains(keySpan)).map(s => (s.startUs, s.endUs)).sortBy(_._1)
        var covered = 0L; var cur = Long.MinValue
        val (ks, ke) = (epochUs(t0), epochUs(t3))
        jobIv.foreach { case (s0, e0) =>
          val s = math.max(math.max(s0, cur), ks); val e = math.min(e0, ke)
          if (e > s) covered += e - s
          cur = math.max(cur, e0)
        }
        selfS = ((ke - ks) - covered) / 1e6
      }
      KeyCall(k, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        pending, compiles, compileS, error, counters, selfS)
    }

    def runPass(name: String, kind: String, dir: String, ord: Seq[String], trace: Boolean,
        sinkDir: Option[Path] = None): Pass = {
      if (trace) tracer.attach() else tracer.detach()
      val passSpan = tracer.newId()
      val t0 = System.nanoTime()
      val calls = ord.map(k => runKey(name, passSpan, k, dir, trace, sinkDir.map(_.resolve(k))))
      val t1 = System.nanoTime()
      if (trace) tracer.record(Span(passSpan, runSpan, "pass", name, epochUs(t0), epochUs(t1)))
      val (cmb, crdd, tmb) = footprint()
      val p = Pass(name, kind, trace, (t1 - t0) / 1e9, calls, cmb, crdd, tmb)
      System.err.println(f"[perfbench] $name%-8s ${p.wallS}%8.3f s  cached=$cmb%.1f MB  disk=$tmb%.1f MB")
      p
    }

    // ---- set-up: session + one warm-up pass over the smaller corpus
    val warmup = runPass("warmup", "warmup", a("warmup-dir"), order(0), trace = false)
    val setupS = (nowUs() - a("launch-us").toLong) / 1e6

    // ---- measured passes: one cold pass per corpus copy, then the warm
    // passes over the last copy. The traced run alternates traced and
    // untraced warm passes, so the tracing overhead is measured inside
    // one run.
    val corpora = a("corpora").split(",").toSeq
    val passes = mutable.ArrayBuffer[Pass]()
    corpora.zipWithIndex.foreach { case (dir, i) =>
      passes += runPass(s"cold${i + 1}", "cold", dir, order(1 + i), traced)
    }
    val w0 = 1 + corpora.size
    for (i <- 0 until warmPasses)
      passes += runPass(s"warm${i + 1}", "warm", corpora.last, order(w0 + i), traced && i % 2 == 0)
    tracer.detach()
    Scratch.release(spark)
    val heldMb = settledDiskMb(Seq(tmpDir, localDir))
    val liveHeapMb = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB }
    val peakRssMb = vmHwmMb()

    // ---- untimed check pass: the warm path once more, writing parquet
    val check = runPass("check", "check", corpora.last, order(passes.size + 1), trace = false,
      sinkDir = Some(out.resolve("dump")))

    Files.writeString(out.resolve("oracle_sql.json"), Json.write(
      keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap))

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_s" -> setupS, "warmup_pass_s" -> warmup.wallS,
      "held_disk_mb" -> heldMb, "live_heap_mb" -> liveHeapMb, "peak_rss_mb" -> peakRssMb,
      "passes" -> ((warmup +: passes) :+ check).map(p => Map(
        "name" -> p.name, "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS,
        "cached_mb" -> p.cachedMb, "cached_rdds" -> p.cachedRdds, "tmp_disk_mb" -> p.tmpDiskMb,
        "calls" -> p.calls.map(c => Map(
          "key" -> c.key, "wall_s" -> c.wallS,
          "eager_s" -> c.eagerS, "action_s" -> c.actionS, "release_s" -> c.releaseS,
          "scratch_pending" -> c.pending, "compiles" -> c.compiles, "compile_s" -> c.compileS,
          "self_s" -> c.selfS, "error" -> c.error.orNull, "counters" -> c.counters.values.toMap))
      )).toSeq)
    Files.writeString(out.resolve("result.json"), Json.write(result))
    if (traced) {
      tracer.record(Span(runSpan, 0L, "run", a("workload"), a("launch-us").toLong, nowUs()))
      val w = Files.newBufferedWriter(out.resolve("trace.jsonl"))
      try tracer.allSpans.sortBy(s => (s.startUs, s.id)).foreach { s =>
        w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs))
        w.newLine()
      } finally w.close()
    }
    spark.stop()
    sys.exit(0) // a stray non-daemon thread must not keep the JVM alive
  }

  private def nowUs(): Long = { val i = Instant.now(); i.getEpochSecond * 1000000L + i.getNano / 1000 }

  /** Bytes of the regular files under p; files the ContextCleaner deletes
    * during the walk are skipped. */
  private def dirBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, attrs: BasicFileAttributes): FileVisitResult = {
        if (attrs.isRegularFile) total += attrs.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  /** Disk held after the last pass, once the ContextCleaner has dropped
    * the shuffle and broadcast files of plans nothing references: two
    * collections, then samples until three in a row agree. */
  private def settledDiskMb(dirs: Seq[Path]): Double = {
    def sample(): Long = dirs.map(dirBytes).sum
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    var seen = List(sample())
    while (seen.size < 20 && !(seen.size >= 3 && seen.take(3).distinct.size == 1)) {
      Thread.sleep(200)
      seen = sample() :: seen
    }
    seen.head / MB
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
