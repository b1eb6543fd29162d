package chatbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.chat.Conversations
import graft.dedup.{MinHash, MinHashConfig, MinHashDedup}
import graft.pipeline.{MiniYaml, PipelineConfig, Preprocessor, Runner}
import graft.sources.Sources
import graft.text.{Cleaners, Filters, WordLists}

/** JVM side of the chat-pipeline benchmark. Modes:
  *  - `lists`: print the program's filter word lists as JSON (the
  *    generator screens its vocabulary against them);
  *  - `setup`: start a SparkSession, print `READY <epoch s>`, stop;
  *  - `run`: one closed-loop client running pipeline passes for a time
  *    window, checking every pass, writing a result JSON file.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    o("mode") match {
      case "lists" =>
        def arr(xs: Array[String]) = xs.map(json).mkString("[", ",", "]")
        println(s"""{"nsfw":${arr(WordLists.NsfwWords)},""" +
          s""""ethics":${arr(WordLists.UnwantedWords)}}""")
      case "setup" =>
        val spark = session(o("work"))
        println(f"READY ${epochSeconds()}%.6f")
        spark.stop()
      case "run" =>
        val spark = session(o("work"))
        val ready = epochSeconds()
        val result = new Bench(spark, o).run()
        Files.writeString(Paths.get(o("out")),
          result.updated("ready_epoch_s", f"$ready%.6f").map { case (k, v) =>
            s"${json(k)}:$v"
          }.mkString("{", ",\n", "}"))
        spark.stop()
    }
  }

  def epochSeconds(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** local[nproc], shuffle partitions = nproc, every temporary path inside
    * the benchmark's work directory.
    */
  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("chatbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Post-GC heap high-water mark: the used heap after every collection. */
object HeapPeak {
  private val peak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[
              javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
      }, null, null)
    case _ =>
  }

  /** Collect, then start a new high-water mark at the live heap. */
  def reset(): Unit = {
    System.gc()
    peak.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def mb: Double = peak.get / 1048576.0
}

object Bench {
  /** Warm-up ends once a pass spends less than `SettledJit` of its wall
    * time in JIT compilation (summed over the compiler threads), after at
    * least `MinWarmup` and at most `MaxWarmup` passes.
    */
  val SettledJit = 0.2
  val MinWarmup = 2
  val MaxWarmup = 6
  val MinWarm = 5
  /** Reported Spark counters per layer; shuffle bytes only where the
    * layer's calls shuffle.
    */
  val CounterKeys = Map(
    "sources" -> Seq("jobs", "tasks", "outside_jobs_s"),
    "chat" -> Seq("jobs", "tasks", "shuffle_write_bytes", "outside_jobs_s"),
    "text" -> Seq("jobs", "tasks", "outside_jobs_s"),
    "pipeline" -> Seq("outside_jobs_s"),
    "dedup" -> Seq("jobs", "tasks", "shuffle_write_bytes", "outside_jobs_s"))
}

final class Bench(spark: SparkSession, o: Map[String, String]) {
  import Bench._
  private val workload = o("workload")
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val data = o("data")
  private val work = o("work")
  private val cfgPath = o("config")
  private val expRows = o("exp_rows").toLong
  private val expDigest = BigDecimal(o("exp_digest"))

  private val cfg = MiniYaml.parse(Files.readString(Paths.get(cfgPath)))
  private def section(k: String): Map[String, Any] =
    cfg(k).asInstanceOf[Map[String, Any]]
  private val respCfg = PipelineConfig.columnConfig(section("response_config"))
  private val instrCfg =
    PipelineConfig.columnConfig(section("instruction_config"))
  private val dedupCfg = respCfg.dedup.getOrElse(MinHashConfig())
  private val datasets = cfg("datasets").asInstanceOf[Seq[Map[String, Any]]]
    .map(d => d("dataset_path").toString -> Option.empty[String])

  private val log = mutable.ArrayBuffer.empty[String]
  private var passNo = 0

  // the traced pass's materialized layer outputs, reused by the probes
  private final case class Staged(io: DataFrame, filtered: DataFrame,
      deduped: Option[DataFrame])
  private var staged: Staged = _
  private var stagedPublishBytes = Double.NaN

  final case class Pass(seconds: Double, cpuSeconds: Double, jitSeconds: Double,
      heapMb: Double, ok: Boolean)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean

  def run(): Map[String, String] = {
    val compile0 = CodeGenerator.compileTime
    val cold = timedPass(runnerPass)
    val codegenS = (CodeGenerator.compileTime - compile0) / 1e9
    // JIT compilation goes on for a few passes after the cold one: those
    // passes are checked but not timed, until compilation has settled
    val warmup = mutable.ArrayBuffer(timedPass(runnerPass))
    while (warmup.size < MaxWarmup && (warmup.size < MinWarmup ||
        warmup.last.jitSeconds >= SettledJit * warmup.last.seconds))
      warmup += timedPass(runnerPass)
    val warm = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    val window = if (traced) seconds / 2 else seconds
    while ((System.nanoTime() - t0) / 1e9 < window || warm.size < MinWarm)
      warm += timedPass(runnerPass)
    var layer = Map.empty[String, Double]
    var tracedPass: Option[Pass] = None
    if (traced) {
      val tr = new Tracer(spark.sparkContext)
      val p = timedPass(stagedPass(tr, _))
      tracedPass = Some(p)
      layer = layerMetrics(tr, p, codegenS,
        warm.filter(_.ok).map(_.seconds).toSeq)
      Files.writeString(Paths.get(s"$work/spans.json"), tr.toJson)
    }
    val all = Seq(cold) ++ warmup ++ warm ++ tracedPass
    val okWarm = warm.filter(_.ok).toSeq
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    Map(
      "cold_pass_s" -> (if (cold.ok) f"${cold.seconds}%.6f" else "null"),
      "warm_pass_s" -> arr(okWarm.map(_.seconds)),
      "warm_pass_cpu_s" -> arr(okWarm.map(_.cpuSeconds)),
      "warm_pass_jit_s" -> arr(okWarm.map(_.jitSeconds)),
      "warmup_pass_s" -> arr(warmup.map(_.seconds).toSeq),
      "cold_pass_cpu_s" -> f"${cold.cpuSeconds}%.6f",
      "heap_peak_mb" -> arr(okWarm.map(_.heapMb)),
      "attempted" -> all.size.toString,
      "failed" -> all.count(!_.ok).toString,
      "trace_digest_equal" -> tracedPass.map(_.ok.toString).getOrElse("null"),
      "codegen_compile_s" -> f"$codegenS%.6f",
      "per_layer" -> layer.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${Harness.json(k)}:${if (v.isNaN) "null" else f"$v%.6f"}"
      }.mkString("{", ",", "}"),
      "log" -> log.map(Harness.json).mkString("[", ",", "]"),
      "spark_version" -> Harness.json(spark.version),
      "java_version" -> Harness.json(System.getProperty("java.version")),
      "cores" -> spark.sparkContext.defaultParallelism.toString)
  }

  /** One pass in the state a fresh `Runner` JVM would see, then its
    * output check. A pass that throws or fails the check yields no time.
    */
  private def timedPass(body: String => Unit): Pass = {
    passNo += 1
    val out = s"$work/out/pass$passNo"
    spark.catalog.clearCache()
    MinHash.clearPermCache()
    HeapPeak.reset()
    val t0 = System.nanoTime()
    val cpu0 = os.getProcessCpuTime
    val jit0 = jit.getTotalCompilationTime
    try {
      body(out)
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      val heap = HeapPeak.mb
      val ok = check(out)
      System.err.println(f"[chatbench] pass $passNo $dt%.3f s " +
        f"cpu $cpu%.3f s jit $jitS%.3f s ok=$ok")
      Pass(dt, cpu, jitS, heap, ok)
    } catch {
      case e: Throwable =>
        log += s"pass $passNo threw: $e"
        Pass(0, 0, 0, 0, ok = false)
    } finally deleteTree(Paths.get(out))
  }

  // ------------------------------------------------------------ passes

  private def runnerPass(out: String): Unit = Runner.run(spark, cfgPath, out)

  /** `Runner.runParsed`'s composition staged call by call, each layer
    * boundary materialized so that a span holds its layer's own work.
    */
  private def stagedPass(tr: Tracer, out: String): Unit = {
    def mat(df: DataFrame) = df.localCheckpoint(true)
    val combined = tr("Sources.combineEntries", "sources") {
      mat(Sources.combineEntries(spark, datasets))
    }
    val io = tr("Conversations.explodeToInputOutput", "chat") {
      mat(Conversations.addContentColumns(
        Conversations.explodeToInputOutput(combined)))
    }
    val (filtered, deduped) = tr("Preprocessor.response", "pipeline") {
      val cleaned = tr("Preprocessor.clean", "text") {
        mat(Preprocessor.clean(io, "response", respCfg.cleaners))
      }
      val filtered = tr("Preprocessor.applyFilters", "text") {
        mat(Preprocessor.applyFilters(cleaned, "response", respCfg.filters))
      }
      (filtered, respCfg.dedup.map(d => dedupSpan(tr, "dedup", filtered, d)))
    }
    staged = Staged(io, filtered, deduped)
    val kept = tr("Preprocessor.instruction", "pipeline") {
      tr("Preprocessor.applyFilters", "text") {
        mat(Preprocessor.applyFilters(deduped.getOrElse(filtered),
          "instruction", instrCfg.filters))
      }
    }
    val shuffled = tr("Conversations.convertToChatml", "chat") {
      mat(Conversations.shuffleSeeded(Conversations.convertToChatml(kept), 42,
        to_json(struct(col("conversation"), col("source")))))
    }
    tr("Sources.publish", "sources") {
      Sources.publish(shuffled, s"$out/published", "snappy")
    }
    stagedPublishBytes = dirBytes(Paths.get(s"$out/published")).toDouble
  }

  /** The audited dedup `Runner` runs (kept rows + cluster-size histogram). */
  private def dedupSpan(tr: Tracer, layer: String, df: DataFrame,
      d: MinHashConfig): DataFrame =
    tr("MinHashDedup.deduplicateWithStats", layer) {
      val (kept, stats) = MinHashDedup.deduplicateWithStats(df, "response", d)
      stats.collect()
      kept.localCheckpoint(true)
    }

  // ------------------------------------------------------------- checks

  /** Published row count and order-independent content digest: the sum of
    * the first 60 bits of md5 over each row's canonical text.
    */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val msg = transform(col("conversation"), m => concat_ws("\u0001",
      m.getField("role"),
      when(m.getField("do_train"), lit("1")).otherwise(lit("0")),
      m.getField("content")))
    val canon = concat(concat_ws("\u0002", msg), lit("\u0003"), col("source"))
    val h = conv(substring(md5(canon), 1, 15), 16, 10)
      .cast(DecimalType(38, 0))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def check(out: String): Boolean = {
    val (rows, dig) = digest(spark.read.parquet(s"$out/published"))
    val ok = rows == expRows && dig == expDigest
    if (!ok) log += s"pass $passNo published $rows rows digest $dig, " +
      s"expected $expRows rows digest $expDigest"
    ok
  }

  // ------------------------------------------------------- traced run

  private def layerMetrics(tr: Tracer, p: Pass, codegenS: Double,
      warm: Seq[Double]): Map[String, Double] = {
    def secs(name: String) =
      tr.spans.filter(_.name == name).map(_.seconds).sum
    val m = mutable.Map.empty[String, Double]
    m("trace.overhead_s") = p.seconds - median(warm)
    m("spark.codegen_compile_s") = codegenS
    m("sources.load_s") = secs("Sources.combineEntries")
    m("sources.publish_s") = secs("Sources.publish")
    m("chat.explode_s") = secs("Conversations.explodeToInputOutput")
    val explodeRows = staged.io.count().toDouble
    m("chat.explode_rows") = explodeRows
    m("chat.chatml_s") = secs("Conversations.convertToChatml")
    m("text.clean_s") = secs("Preprocessor.clean")
    m("text.filter_s") = secs("Preprocessor.applyFilters")
    m("text.kept_frac") = staged.filtered.count() / explodeRows
    m("pipeline.response_pass_s") = secs("Preprocessor.response")
    m("pipeline.instruction_pass_s") = secs("Preprocessor.instruction")
    m("sources.publish_bytes") = stagedPublishBytes
    // the pass's own counters, taken before the probes add spans and jobs
    m ++= tr.layerCounters(CounterKeys)
    // probes run after the pass, in spans of layer "probe"; their time is
    // not part of the pass
    m ++= textOps(staged.io.select("response").localCheckpoint(true))
    m ++= dedupLayer(tr, staged.filtered)
    m("dedup.store_write_s") = secs("MinHashDedup.exportBandedStore") +
      secs("MinHashDedup.mergeStores")
    m("dedup.store_lookup_s") = secs("MinHashDedup.deduplicateAgainstStore")
    m.toMap
  }

  /** Each preset cleaner and filter alone over the materialized responses. */
  private def textOps(responses: DataFrame): Map[String, Double] = {
    val n = responses.count().toDouble
    val r = col("response")
    val cleaners = Seq("fix_utf8_encoding", "normalize_whitespace",
      "normalize_punctuation", "remove_empty_lines").map { name =>
      name -> (() => responses.agg(sum(length(Cleaners.registry(name)(r))))
        .head(): Any)
    }
    val filters = Seq(
      "check_word_number" -> Map[String, Any]("max_word_threshold" -> 128),
      "check_completion" -> Map.empty[String, Any],
      "check_char_repetition" -> Map.empty[String, Any],
      "check_lowercase_ratio" -> Map.empty[String, Any],
      "check_nsfw_words" -> Map.empty[String, Any],
      "check_ethics" -> Map.empty[String, Any]).map { case (name, args) =>
      val f = Filters.fromConfig(name, args)
      name -> (() => responses.agg(sum(f.keep(r).cast("long"))).head(): Any)
    }
    (cleaners ++ filters).map { case (name, op) =>
      val t0 = System.nanoTime()
      op()
      s"text.${name}_rows_per_s" -> n / ((System.nanoTime() - t0) / 1e9)
    }.toMap
  }

  /** Signature kernel alone, bucket collisions, and the dedup calls a
    * workload's own path lacks, all over its response-filtered rows.
    */
  private def dedupLayer(tr: Tracer,
      filtered: DataFrame): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    val n = filtered.count().toDouble
    val sig = MinHashDedup.signatureColumn(dedupCfg)(
      coalesce(col("response"), lit("")))
    // from the same empty shingle cache the pass started with
    MinHash.clearPermCache()
    val t0 = System.nanoTime()
    filtered.agg(sum(size(sig))).head()
    val sigS = (System.nanoTime() - t0) / 1e9
    m("dedup.signature_s") = sigS
    m("dedup.signature_rows_per_s") = n / sigS
    val buckets = filtered.select(posexplode(sig)).distinct().count()
    val bands = filtered.select(size(sig)).head().getInt(0)
    val collisions = n * bands - buckets
    m("dedup.bucket_collisions") = collisions

    // the pipeline's own dedup call, or the same call as a probe
    val kept = staged.deduped.getOrElse {
      MinHash.clearPermCache()
      dedupSpan(tr, "probe", filtered, dedupCfg)
    }
    val dedupS = tr.spans.filter(_.name == "MinHashDedup.deduplicateWithStats")
      .map(_.seconds).sum
    m("dedup.cluster_s") = dedupS - sigS
    val removed = n - kept.count()
    m("dedup.removed_rows") = removed.toDouble
    m("dedup.removed_per_collision") =
      if (collisions > 0) removed / collisions else 0.0
    m("dedup.planted_recall") = plantedRecall(kept)

    // the store path: export 95% of the rows, look the other 5% up, fold
    // the survivors back in and rewrite the store
    val storeDir = s"$work/out/probe-store"
    val slice = xxhash64(col("response")) % 20 === 0
    val store = tr("MinHashDedup.exportBandedStore", "probe") {
      MinHashDedup.exportBandedStore(filtered.where(!slice), "response",
        s"$storeDir/0", dedupCfg)
    }
    val surv = tr("MinHashDedup.deduplicateAgainstStore", "probe") {
      MinHashDedup.deduplicateAgainstStore(filtered.where(slice), store,
        "response", dedupCfg)
    }
    tr("MinHashDedup.mergeStores", "probe") {
      MinHashDedup.mergeStores(store,
        MinHashDedup.bandedStore(surv, "response", dedupCfg))
        .write.parquet(s"$storeDir/1")
    }
    m("dedup.store_bytes") = dirBytes(Paths.get(s"$storeDir/1")).toDouble
    deleteTree(Paths.get(storeDir))
    m.toMap
  }

  /** 1 − (extra kept members of planted clusters) / (removable members). */
  private def plantedRecall(kept: DataFrame): Double = {
    val planted = spark.read.parquet(s"$data/planted.parquet")
    val sizes = planted.groupBy("cluster").agg(count(lit(1)).as("n"))
    val removable = sizes.agg(sum(col("n") - 1)).head().getLong(0)
    val extra = kept.select(col("response").as("text"))
      .join(planted.distinct(), "text")
      .groupBy("cluster").agg(count(lit(1)).as("k"))
      .agg(sum(greatest(col("k") - 1, lit(0L)))).head()
    val e = if (extra.isNullAt(0)) 0L else extra.getLong(0)
    if (removable == 0) Double.NaN else 1.0 - e.toDouble / removable
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
