package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.json4s._

/** Staged-plan access and small file helpers. */
object Plans {
  def load(stage: Path): JValue =
    org.json4s.jackson.JsonMethods.parse(
      Files.readString(stage.resolve("plan.json")))

  /** Bytes of all regular files under `dir` (0 if absent). */
  def dirBytes(dir: Path): Long = files(dir).map(_._2).sum

  /** Regular files under `dir` with their sizes. */
  def files(dir: Path): Seq[(Path, Long)] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toSeq
      finally s.close()
    }
}

/** Result comparison between two runs of the same read. */
object Compare {
  def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.indices.forall(i => sameRow(a(i), b(i)))

  private def sameRow(x: Row, y: Row): Boolean =
    x.length == y.length && (0 until x.length).forall(i =>
      sameValue(x.get(i), y.get(i)))

  private def sameValue(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Double, b: Double) =>
      (a.isNaN && b.isNaN) ||
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    case (a: Float, b: Float) => sameValue(a.toDouble, b.toDouble)
    case (a: Row, b: Row) => sameRow(a, b)
    case (a: scala.collection.Seq[_], b: scala.collection.Seq[_]) =>
      a.length == b.length && a.zip(b).forall { case (p, q) => sameValue(p, q) }
    case _ => x == y
  }
}

/** Runs independent checker actions on a small pool (outside the timed
  * region only — the closed loop itself stays single-threaded).
  */
object Parallel {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }

  def foreach[A](xs: Seq[A])(f: A => Unit): Unit = map(xs)(f)
}
