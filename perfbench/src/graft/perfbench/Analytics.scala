package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.lake.{LakeCatalog, LakeTable, Meta, Scan}

/** Read-only mix: every `q_*` registry query plus seeded reads of a
  * `year(o_orderdate)`-partitioned lake orders table (current state,
  * hidden-partition-pruned date ranges, snapshot and branch time
  * travel, metadata tables), in a seed-shuffled order per round. Each
  * op constructs its DataFrame, plans it and collects the result.
  */
final class Analytics(spark: SparkSession, stage: Path) extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val plan = Plans.load(stage)
  private val tables = stage.resolve("tables").toString
  private val registry = graft.SparkEntry.queries.filter(_._1.startsWith("q_"))
  /** Every fifth registry query in name order. A full registry round
    * (50 queries, about a second each on a fresh JVM with 4 cores) does
    * not fit the benchmark's time budget, and a fixed subset keeps every
    * run's population the same.
    */
  private val roundQueries = registry.keys.toSeq.sorted.zipWithIndex
    .collect { case (q, i) if i % 5 == 0 => q }
  private val bounds = (plan \ "slice_bounds").extract[Seq[Long]]
  private val branchAt = (plan \ "branch_at_slice").extract[Int]
  private val branchDelete = (plan \ "branch_delete").extract[Seq[Long]]
  // the round's registry queries and lake reads, in the round's seeded
  // order
  private val rounds = (plan \ "rounds").children.map { r =>
    val lake = (r \ "lake_ops").extract[Seq[Map[String, JValue]]]
    val all = roundQueries.map(q => Map("op" -> (JString(q): JValue))) ++ lake
    new scala.util.Random((r \ "shuffle_seed").extract[Long]).shuffle(all)
  }
  private val Epoch = java.time.LocalDate.of(1995, 1, 1)

  private var table: LakeTable = _
  private var sliceSnaps = IndexedSeq.empty[Long]
  private var round = 0
  private val first = mutable.Map[String, Array[Row]]()
  private val mismatched = mutable.Map[String, Int]().withDefaultValue(0)
  private var repeats = 0
  private val lakeResults = ArrayBuffer[Map[String, Any]]()
  // traced runs: (files live, files left after pruning) per pruned read
  private val pruneProbes = ArrayBuffer[(Int, Int)]()
  private var resultsDir: Path = _

  def setup(dir: Path): Unit = {
    val cat = new LakeCatalog(spark, dir.resolve("warehouse").toString)
    cat.createSchema("lk")
    val orders = spark.read.parquet(s"$tables/orders.parquet")
    def slice(i: Int) = orders.filter(col("o_orderkey") >= bounds(i) &&
      col("o_orderkey") < bounds(i + 1))
    val t = cat.createTable("lk.orders", slice(0), Seq("year(o_orderdate)"),
      Map("merge_mode" -> "merge-on-read"))
    val snaps = ArrayBuffer(t.meta.currentSnapshotId.get)
    for (i <- 1 until bounds.size - 1) {
      snaps += t.append(slice(i)).snapshotId
      if (i == branchAt) {
        t.createBranch("audit")
        t.delete(col("o_orderkey") >= branchDelete(0) &&
          col("o_orderkey") < branchDelete(1), "audit")
      }
    }
    table = t
    sliceSnaps = snaps.toIndexedSeq
    resultsDir = dir.resolve("results")
  }

  /** One whole untimed round: the first execution of every query and
    * lake read (class loading, JIT, code generation, schema inference)
    * costs several times a warm one.
    */
  override def warmup(): Unit = unit(new Tracer(spark, on = false))

  def unit(t: Tracer): Boolean = {
    if (round >= rounds.size) return false
    rounds(round).foreach(op => runOp(t, op))
    round += 1
    true
  }

  private def datePred(op: Map[String, JValue]): Column = {
    def ts(day: Int) = lit(java.sql.Timestamp.valueOf(
      Epoch.plusDays(day.toLong).atStartOfDay()))
    col("o_orderdate") >= ts(op("from_day").extract[Int]) &&
      col("o_orderdate") < ts(op("to_day").extract[Int])
  }

  private def lakeAgg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("k"),
      sum(col("o_totalprice")).as("p"))

  private def runOp(t: Tracer, op: Map[String, JValue]): Unit = {
    val name = op("op").extract[String]
    val kind = if (name.startsWith("q_")) "query" else "lake_read"
    val rows = try t.op(name, kind) {
      val df = t.span("construct") {
        name match {
          case q if kind == "query" => registry(q)(spark, tables)
          case "lake_current" => lakeAgg(table.read())
          case "lake_pruned" => lakeAgg(table.read(datePred(op)))
          case "lake_as_of" =>
            lakeAgg(table.asOf(sliceSnaps(op("slice").extract[Int])))
          case "lake_branch" => lakeAgg(table.readRef("audit"))
          case "lake_snapshots" =>
            table.metaTable("snapshots").agg(count(lit(1)).as("n"))
          case "lake_files" =>
            table.metaTable("files").filter(col("content") === 0)
              .agg(count(lit(1)).as("n"), sum(col("record_count")).as("k"))
        }
      }
      t.span("plan") { df.queryExecution.executedPlan }
      t.span("execute") { df.collect() }
    } catch { case NonFatal(e) =>
      System.err.println(s"op $name failed: $e"); null
    }
    if (rows == null) return
    val opId = t.ops.last.id
    if (kind == "query") {
      first.get(name) match {
        case None => first(name) = rows
        case Some(r0) =>
          repeats += 1
          if (!Compare.sameRows(r0, rows)) mismatched(name) += 1
      }
    } else {
      val r = rows.head
      val vals = (0 until r.length).map(i => r.get(i) match {
        case x: java.lang.Number => x.doubleValue
        case null => 0.0
      })
      lakeResults += (op.map { case (k, v) => k -> v.values } ++
        Map("result" -> vals))
      if (name == "lake_pruned" && t.on) {
        val m = t.probe(opId, "probe.meta_load") { Meta.load(table.location) }
        val live = Meta.liveFiles(m, m.currentSnapshot.get)._1
        val scanned = t.probe(opId, "probe.prune_files") {
          Scan.pruneFiles(m, live, Some(datePred(op)))
        }
        pruneProbes += ((live.size, scanned.size))
      }
    }
  }

  def check(t: Tracer): Seq[Check] = {
    // first result of each registry query, for the DuckDB oracle
    Files.createDirectories(resultsDir)
    Parallel.foreach(first.toSeq) { case (name, rows) =>
      val schema = registry(name)(spark, tables).schema
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(resultsDir.resolve(name).toString)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => first.contains(k) }
    Files.writeString(resultsDir.resolve("oracle_sql.json"), Report.json(oracle))
    Seq(Check("analytics.repeat_results_stable", mismatched.isEmpty,
        s"${mismatched.values.sum} of $repeats repeated query results differ " +
          s"from their first run: ${mismatched.keys.mkString(",")}",
        counted = mismatched.values.sum),
      Check("lake.files_scanned_le_files_live",
        pruneProbes.forall(p => p._2 <= p._1),
        s"${pruneProbes.size} pruned reads probed", counted = 0))
  }

  override def exported(t: Tracer): Map[String, Any] = Map(
    "results_dir" -> resultsDir.toString,
    "query_runs" -> t.ops.filterNot(_.failed).groupBy(_.name)
      .map { case (k, v) => k -> v.size },
    "lake_reads" -> lakeResults.toSeq)

  def endToEnd(t: Tracer, timedS: Double): Map[String, Double] = {
    val ok = t.ops.filterNot(_.failed)
    val all = ok.map(_.wall).toSeq
    val lake = ok.filter(_.kind == "lake_read").map(_.wall).toSeq
    Map("throughput_per_s" -> ok.size / timedS,
      "op_p50_s" -> Report.quantile(all, 0.5),
      "op_p90_s" -> Report.quantile(all, 0.9),
      "samples" -> all.size.toDouble,
      "lake_read_p50_s" -> Report.quantile(lake, 0.5),
      "lake_read_samples" -> lake.size.toDouble,
      "rounds" -> round.toDouble)
  }

  def layers(t: Tracer, jobs: Map[Int, Seq[JobRec]]): Map[String, Double] = {
    val qOps = t.ops.filter(o => o.kind == "query" && !o.failed).map(_.id).toSet
    def phase(name: String) = Report.mean(t.spans.filter(s =>
      s.name == name && qOps(s.op)).map(s => (s.end - s.start) / 1e9))
    val probes = t.spans.groupBy(_.name)
    val m = Meta.load(table.location)
    val (live, dels) = Meta.liveFiles(m, m.currentSnapshot.get)
    Map("queries.construct_s" -> phase("construct"),
      "queries.plan_s" -> phase("plan"),
      "queries.execute_s" -> phase("execute"),
      "lake.meta_load_s" -> Report.mean(probes.getOrElse("probe.meta_load", Nil)
        .map(s => (s.end - s.start) / 1e9)),
      "lake.snapshots" -> m.snapshots.size.toDouble,
      "lake.metadata_bytes" -> Plans.dirBytes(Meta.metadataDir(table.location)).toDouble,
      "lake.files_live" -> live.size.toDouble,
      "lake.delete_files_live" -> dels.size.toDouble,
      "lake.files_scanned" -> Report.mean(pruneProbes.map(_._2.toDouble)),
      "lake.prune_ratio" -> Report.mean(pruneProbes.map(p =>
        p._2.toDouble / math.max(1, p._1))))
  }
}
