package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `setup` builds the workload's state
  * from the staged inputs under `dir` (run several times, the last
  * state is kept); `unit` runs one whole unit of the closed loop (a
  * round, a cycle, a wave group) and returns false once the staged plan
  * is exhausted; `check` runs after the timed region. The timed loop
  * runs whole units, at least `timedUnits` of them and until the run's
  * seconds have passed, so every run of a workload at the same seconds
  * times the same operation mix.
  *
  * `warmup` runs on the first set-up's state, before the other
  * set-ups. A workload that shuffles its ops warms up a whole unit: a
  * partial warm-up would move first-execution costs (class loading,
  * JIT, code generation) onto different ops from run to run. One whose
  * ops run in a fixed order may warm up only some of them.
  */
trait Workload {
  def setup(dir: Path): Unit
  def warmup(): Unit = ()
  def timedUnits: Int = 1
  def unit(t: Tracer): Boolean
  def check(t: Tracer): Seq[Check]
  /** End-to-end numbers and the sample counts behind them. */
  def endToEnd(t: Tracer, timedS: Double): Map[String, Double]
  /** Layer numbers only a traced run can give. */
  def layers(t: Tracer, jobs: Map[Int, Seq[JobRec]]): Map[String, Double]
  /** Workload-specific data the outside checker needs. */
  def exported(t: Tracer): Map[String, Any] = Map.empty
}

final case class Check(name: String, ok: Boolean, detail: String = "",
    counted: Int = 1)

/** Entry point: `--workload w --stage dir --work dir --seconds s
  * --trace 0|1 --out file`.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val stage = Paths.get(a("stage"))
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val parallelism = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = graft.SparkEnv.builder(s"local[$parallelism]")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w: Workload = workload match {
      case "analytics" => new Analytics(spark, stage)
      case "lake_lifecycle" => new Lifecycle(spark, stage)
      case "curate_ingest" => new Curate(spark, stage)
    }
    def setupRep(i: Int): Double = {
      val t0 = System.nanoTime()
      w.setup(work.resolve(s"state-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val first = setupRep(1)
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = first +: (2 to SetupReps).map(setupRep)
    val t = new Tracer(spark, traced)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gc = (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)
    val (gcMs0, gcN0) = gc
    val start = System.nanoTime()
    var more = true
    var units = 0
    while (more && (units < w.timedUnits || (System.nanoTime() - start) / 1e9 < seconds)) {
      more = w.unit(t)
      units += 1
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val (gcMs1, gcN1) = gc
    // Spark's ContextCleaner frees broadcast and shuffle state only
    // after the GC that drops their references: collect a few times.
    val mem = ManagementFactory.getMemoryMXBean
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val jobs = t.finish()
    val c0 = System.nanoTime()
    val checks = w.check(t)
    val checkS = (System.nanoTime() - c0) / 1e9
    val e2e = w.endToEnd(t, timedS) ++ Map("live_heap_mb" -> heapMb)
    val layer: Map[String, Double] =
      if (!traced) Map.empty
      else w.layers(t, jobs) ++ Report.sparkLayers(t, jobs, parallelism) ++
        Map("jvm.gc_s" -> (gcMs1 - gcMs0) / 1e3 / math.max(1, t.ops.size),
          "jvm.gc_count" -> (gcN1 - gcN0).toDouble / math.max(1, t.ops.size))
    val recon = if (traced) Report.reconcile(t, jobs) else Nil
    if (traced) Report.writeSpans(t, work.resolve("spans.jsonl"))
    t.close()

    val codegenCache = spark.conf.getOption("spark.sql.codegen.cache.maxEntries")
      .orElse(Option(spark.sparkContext.getConf.get(
        "spark.sql.codegen.cache.maxEntries", null)))
      .getOrElse("100 (default)")
    val stamp = Map(
      "nproc" -> parallelism,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "host" -> java.net.InetAddress.getLocalHost.getHostName,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "jvm_options" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.mkString(" "),
      "spark_graft_java_opts" -> sys.env.getOrElse("SPARK_GRAFT_JAVA_OPTS", ""),
      "spark_version" -> spark.version,
      "codegen_cache_max_entries" -> codegenCache)
    val out = Map(
      "workload" -> workload,
      "stamp" -> stamp,
      "session_s" -> sessionS,
      "setup_reps_s" -> setupS,
      "warmup_s" -> warmupS,
      "timed_s" -> timedS,
      "check_s" -> checkS,
      "attempted" -> t.ops.size,
      "failed_ops" -> t.ops.count(_.failed),
      "ops" -> t.ops.map(o => Seq(o.name, o.kind, o.wall)),
      "end_to_end" -> e2e,
      "layers" -> layer,
      "checks" -> (checks ++ recon).map(c => Map("name" -> c.name,
        "ok" -> c.ok, "detail" -> c.detail, "counted" -> c.counted)),
      "exported" -> w.exported(t))
    Files.writeString(Paths.get(a("out")), Report.json(out))
    spark.stop()
  }
}
