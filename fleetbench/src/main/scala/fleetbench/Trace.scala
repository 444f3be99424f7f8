package fleetbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top); `run` is the job iteration the span belongs to. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled, every method is a plain pass-through, so the timed runs
  * execute exactly the calls a user's job would.
  *
  * Spark is lazy, so [[layer]] persists and counts a layer's output inside
  * its span: the layer's work lands in its own span instead of in whichever
  * later call happens to force it. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val held = ArrayBuffer.empty[DataFrame]
  var run: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, run, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Materialize `df` inside a span named `name` (traced runs only). */
  def layer(name: String)(df: => DataFrame): DataFrame =
    if (!enabled) df
    else span(name) {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      held += d
      d
    }

  /** Drop the blocks persisted for the finished job. */
  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  /** Self time: each span's duration minus the part of its interval
    * covered by its direct children (union of their intervals). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Per-run total self seconds of every span name. */
  def selfSecondsByRun(spans: Seq[Span]): Map[String, Map[Int, Double]] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.groupBy(_.run).map { case (r, xs) => r -> xs.map(s => self(s.id)).sum / 1e9 }
    }
  }

  def toJsonLines(spans: Seq[Span]): Seq[String] = {
    val self = selfTimes(spans)
    spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run" -> s.run.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ns" -> self(s.id).toString))
    }
  }
}
