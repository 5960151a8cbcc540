package graftbench

import scala.collection.mutable

/** In-memory span recorder. A span is (name, start, end, parent); spans
  * of one op share the op index. Nothing is written until [[writeJsonl]]
  * at the end of the run. When disabled, [[span]] only runs the body. */
final class Tracer {
  case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  var enabled = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its child spans. */
  def selfNs: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).toSeq
      s.id -> (s.endNs - s.startNs - Tracer.union(covered))
    }.toMap
  }

  /** Summed self time (ms) of op `op`'s spans named `name`. */
  def selfMs(op: Int, name: String): Double = {
    val mine = done.filter(s => s.op == op)
    val kids = mine.groupBy(_.parent)
    mine.filter(_.name == name).map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).toSeq
      (s.endNs - s.startNs - Tracer.union(covered)) / 1e6
    }.sum[Double]
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Total length covered by a set of (start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, hi), (a, b)) =>
        if (b <= hi) (sum, hi) else (sum + b - math.max(a, hi), b)
      }._1
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
