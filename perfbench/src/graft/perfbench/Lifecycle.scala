package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._

import graft.lake.{GraftSql, LakeCatalog, Meta, Scan}

/** Writes beside reads: the reference script's lifecycle as Trino SQL
  * through `GraftSql.execute` on a fresh warehouse — seeded INSERT
  * waves, merge-on-read DELETE/UPDATE/MERGE on key ranges, branch →
  * insert → fast-forward, rollback, a read after every write, and
  * optimize / expire_snapshots / remove_orphan_files every cycle.
  */
final class Lifecycle(spark: SparkSession, stage: Path) extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val plan = Plans.load(stage)
  private val stmts = (plan \ "statements").extract[Seq[Map[String, JValue]]]
  private val baseRows = (plan \ "base_rows").extract[Long]
  private val poolPath = stage.resolve("stage").resolve("pool.parquet")
  private val Cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
    "o_orderdate, o_orderpriority"

  private var gs: GraftSql = _
  private var loc: Path = _
  private var next = 0
  private val headAfter = mutable.Map[Int, Long]()
  private val executed = ArrayBuffer[Map[String, Any]]()
  // bytes of every file that appeared under the table dir, by area
  private val seen = mutable.Set[String]()
  private val written = mutable.Map[String, Long]().withDefaultValue(0L)
  private var userRows = 0L
  private var lastSnap = 0L
  private var poolBytesPerRow = 0.0
  // traced runs: (files live, files left after pruning) per range read
  private val probes = ArrayBuffer[(Int, Int)]()
  private var finalDir: Path = _

  private val CommitKinds = Set("insert", "delete", "update", "merge",
    "create_branch", "fast_forward", "drop_branch", "rollback", "optimize",
    "expire_snapshots", "remove_orphan_files")
  private val DataCommits = Set("insert", "delete", "update", "merge",
    "optimize")
  private val Maintenance = Set("optimize", "expire_snapshots",
    "remove_orphan_files")

  def setup(dir: Path): Unit = {
    val cat = new LakeCatalog(spark, dir.resolve("warehouse").toString)
    val g = new GraftSql(cat)
    g.registerSource("stage.pool", spark.read.parquet(poolPath.toString))
    g.execute("CREATE SCHEMA IF NOT EXISTS lk")
    g.execute("USE lk")
    g.execute(
      s"""CREATE TABLE orders WITH (
           partitioning = ARRAY['year(o_orderdate)'],
           format = 'parquet', format_version = 3,
           merge_mode = 'merge-on-read')
         AS SELECT * FROM stage.pool WHERE o_orderkey < $baseRows""")
    gs = g
    loc = Paths.get(cat.tableLocation("lk.orders"))
    finalDir = dir.resolve("final")
    val poolRows = spark.read.parquet(poolPath.toString).count()
    poolBytesPerRow = Files.size(poolPath).toDouble / poolRows
    next = 0
    headAfter.clear(); executed.clear(); seen.clear(); written.clear()
    probes.clear()
    userRows = 0L
    lastSnap = Meta.load(loc.toString).lastSnapshotId
    seen ++= Plans.files(loc).map(_._1.toString)
  }

  private def range(s: Map[String, JValue]): Option[(Long, Long)] =
    s.get("range").flatMap {
      case JArray(List(a, b)) => Some((a.extract[Long], b.extract[Long]))
      case _ => None
    }

  private def keyPred(r: (Long, Long)) =
    s"o_orderkey >= ${r._1} AND o_orderkey < ${r._2}"

  private def sql(s: Map[String, JValue]): String = {
    def target = headAfter(s("target").extract[Int])
    s("kind").extract[String] match {
      case "insert" =>
        val br = s.get("branch").map(b => s" @ ${b.extract[String]}").getOrElse("")
        s"INSERT INTO orders$br SELECT * FROM stage.pool WHERE ${keyPred(range(s).get)}"
      case "delete" => s"DELETE FROM orders WHERE ${keyPred(range(s).get)}"
      case "update" =>
        s"UPDATE orders SET o_totalprice = o_totalprice + ${s("delta").extract[Double]}, " +
          s"o_orderstatus = 'U' WHERE ${keyPred(range(s).get)}"
      case "merge" =>
        val src = s"stage.m${s("source").extract[Int]}"
        s"""MERGE INTO orders AS b USING $src AS l
            ON (b.o_orderkey = l.o_orderkey)
            WHEN MATCHED THEN UPDATE
            SET o_totalprice = l.o_totalprice, o_orderstatus = l.o_orderstatus
            WHEN NOT MATCHED THEN INSERT ($Cols)
            VALUES (${Cols.split(", ").map("l." + _).mkString(", ")})"""
      case "create_branch" => "CREATE BRANCH dev IN TABLE orders"
      case "fast_forward" => "ALTER BRANCH main IN TABLE orders FAST FORWARD TO dev"
      case "drop_branch" => "DROP BRANCH dev IN TABLE orders"
      case "rollback" => s"CALL system.rollback_to_snapshot('lk', 'orders', $target)"
      case "optimize" =>
        "ALTER TABLE orders EXECUTE optimize(file_size_threshold => '100MB')"
      case m @ ("expire_snapshots" | "remove_orphan_files") =>
        s"ALTER TABLE orders EXECUTE $m(retention_threshold => '0s')"
      case "read_current" =>
        "SELECT count(*) AS n, sum(o_orderkey) AS k, sum(o_totalprice) AS p " +
          "FROM orders" + range(s).map(r => s" WHERE ${keyPred(r)}").getOrElse("")
      case "read_as_of" =>
        "SELECT count(*) AS n, sum(o_orderkey) AS k, sum(o_totalprice) AS p " +
          s"FROM orders FOR VERSION AS OF $target"
      case "read_snapshots" => """SELECT snapshot_id FROM "orders$snapshots""""
      case "read_files" =>
        """SELECT count(*) AS n, sum(record_count) AS k FROM "orders$files"
           WHERE content = 0"""
    }
  }

  /** Run statement `i`; harness bookkeeping (source registration, head
    * tracking, byte accounting, probes) stays outside the op's wall.
    */
  private def runStatement(t: Tracer): Unit = {
    val i = next
    next += 1
    val s = stmts(i)
    val kind = s("kind").extract[String]
    s.get("source").foreach { src =>
      val n = src.extract[Int]
      gs.registerSource(s"stage.m$n", spark.read.parquet(
        stage.resolve("stage").resolve(s"merge_$n.parquet").toString))
    }
    val text = sql(s)
    val rows: Array[Row] = try t.op(kind,
        if (CommitKinds(kind)) "commit" else "read") {
      val df = t.span("graftsql.execute") { gs.execute(text) }
      t.span("collect") { df.collect() }
    } catch { case NonFatal(e) =>
      System.err.println(s"statement $i ($kind) failed: $e"); null
    }
    val op = t.ops.last
    val m = t.probe(op.id, "probe.meta_load") { Meta.load(loc.toString) }
    val head = m.currentSnapshotId.get
    headAfter(i) = head
    if (Set("insert", "update", "merge")(kind))
      userRows += m.snapshots.filter(_.snapshotId > lastSnap)
        .flatMap(_.summary.get("added-records")).map(_.toLong).sum
    lastSnap = m.lastSnapshotId
    Plans.files(loc).foreach { case (p, size) =>
      if (seen.add(p.toString)) {
        val area = loc.relativize(p).getName(0).toString
        written(area) += size
        if (kind == "optimize" && area == "data") written("rewritten") += size
      }
    }
    val rec = mutable.Map[String, Any]("i" -> i, "kind" -> kind,
      "head" -> head, "failed" -> op.failed)
    if (rows != null && kind.startsWith("read_")) {
      rec("rows") = rows.map(r => (0 until r.length).map(j => r.get(j) match {
        case x: java.lang.Number => x.doubleValue
        case null => 0.0
      }))
      if (kind == "read_files") {
        val live = Meta.liveFiles(m, m.currentSnapshot.get)._1
        rec("meta_files") = Seq(live.size.toDouble, live.map(_.recordCount).sum.toDouble)
      }
      if (kind == "read_as_of") rec("target") = s("target").extract[Int]
    }
    if (t.on) range(s).filter(_ => kind == "read_current").foreach { r =>
      val live = Meta.liveFiles(m, m.currentSnapshot.get)._1
      val scanned = t.probe(op.id, "probe.prune_files") {
        Scan.pruneFiles(m, live, Some(col("o_orderkey") >= r._1 &&
          col("o_orderkey") < r._2))
      }
      probes += ((live.size, scanned.size))
    }
    executed += rec.toMap
  }

  /** One untimed cycle, so every statement kind has run once before the
    * timed cycle (which starts over on a fresh table). Cold, the median
    * commit swung by a fifth from run to run.
    */
  override def warmup(): Unit = unit(new Tracer(spark, on = false))

  /** Two cycles: one holds only seven data-writing commits, too few for
    * a steady median.
    */
  override def timedUnits: Int = 2

  /** One cycle: statements through the read after remove_orphan_files. */
  def unit(t: Tracer): Boolean = {
    if (next >= stmts.size) return false
    var last = ""
    while (last != "remove_orphan_files" && next < stmts.size) {
      last = stmts(next)("kind").extract[String]
      runStatement(t)
    }
    if (next < stmts.size) runStatement(t)
    true
  }

  def check(t: Tracer): Seq[Check] = {
    gs.execute("SELECT * FROM orders").coalesce(1)
      .write.parquet(finalDir.toString)
    Seq(Check("lake.files_scanned_le_files_live",
      probes.forall(p => p._2 <= p._1), s"${probes.size} range reads probed",
      counted = 0))
  }

  override def exported(t: Tracer): Map[String, Any] = Map(
    "statements" -> executed.toSeq,
    "final_dir" -> finalDir.toString)

  def endToEnd(t: Tracer, timedS: Double): Map[String, Double] = {
    val ok = t.ops.filterNot(_.failed)
    // the median is over statements that write data; branch, rollback
    // and expiry statements only publish metadata (milliseconds), and
    // mixed in they made the median jump between the two groups
    val commits = ok.filter(o => DataCommits(o.name)).map(_.wall).toSeq
    val reads = ok.filter(_.kind == "read").map(_.wall).toSeq
    val tableBytes = Plans.dirBytes(loc)
    val m = Meta.load(loc.toString)
    val liveBytes = Meta.liveFiles(m, m.currentSnapshot.get)._1.map(_.sizeBytes).sum
    val newBytes = written("data") + written("deletes") + written("metadata")
    Map("throughput_per_s" -> ok.size / timedS,
      "op_p50_s" -> Report.quantile(commits, 0.5),
      "op_p90_s" -> Report.quantile(commits, 0.9),
      "samples" -> commits.size.toDouble,
      "read_after_write_samples" -> reads.size.toDouble,
      "read_after_write_p50_s" -> Report.quantile(reads, 0.5),
      "write_amp" -> newBytes / math.max(1.0, userRows * poolBytesPerRow),
      "space_amp" -> tableBytes.toDouble / math.max(1L, liveBytes),
      "statements" -> ok.size.toDouble)
  }

  def layers(t: Tracer, jobs: Map[Int, Seq[JobRec]]): Map[String, Double] = {
    val ok = t.ops.filterNot(_.failed)
    def meanWall(kinds: Set[String]) =
      Report.mean(ok.filter(o => kinds(o.name)).map(_.wall))
    val commits = ok.filter(_.kind == "commit")
    val crit = commits.map(o => Report.criticalPathS(o, jobs))
    val nCommits = math.max(1, commits.size).toDouble
    val m = Meta.load(loc.toString)
    val (live, dels) = Meta.liveFiles(m, m.currentSnapshot.get)
    Map("lake.insert_s" -> meanWall(Set("insert")),
      "lake.delete_s" -> meanWall(Set("delete")),
      "lake.update_s" -> meanWall(Set("update")),
      "lake.merge_s" -> meanWall(Set("merge")),
      "lake.branch_s" -> meanWall(Set("create_branch", "fast_forward",
        "drop_branch", "rollback")),
      "lake.maintenance_s" -> meanWall(Maintenance),
      "lake.commit_job_s" -> Report.mean(crit),
      "lake.commit_outside_job_s" -> Report.mean(commits.zip(crit)
        .map { case (o, c) => o.wall - c }),
      "lake.meta_load_s" -> Report.mean(t.spans.filter(_.name == "probe.meta_load")
        .map(s => (s.end - s.start) / 1e9)),
      "lake.snapshots" -> m.snapshots.size.toDouble,
      "lake.metadata_bytes" -> Plans.dirBytes(Meta.metadataDir(loc.toString)).toDouble,
      "lake.files_live" -> live.size.toDouble,
      "lake.delete_files_live" -> dels.size.toDouble,
      "lake.files_scanned" -> Report.mean(probes.map(_._2.toDouble)),
      "lake.prune_ratio" -> Report.mean(probes.map(p =>
        p._2.toDouble / math.max(1, p._1))),
      "lake.data_bytes_written" -> written("data") / nCommits,
      "lake.delete_bytes_written" -> written("deletes") / nCommits,
      "lake.metadata_bytes_written" -> written("metadata") / nCommits,
      "lake.bytes_rewritten" -> written("rewritten") / nCommits)
  }
}
