package org.apache.spark.sql.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closes the trace of a run: nests each traced unit's spans by time
  * containment, computes self time per layer, the share of unit wall
  * covered by named layer spans, and per-unit layer metrics.
  */
final class TraceReport(ctx: Ctx) {
  private val runId = java.util.UUID.randomUUID().toString
  /** Listener timestamps are whole milliseconds; allow that much skew. */
  private val SlackMs = 1.5

  private val byUnit: Map[Int, IndexedSeq[Span]] =
    ctx.spans.asScala.toIndexedSeq.filter(_.unit >= 0).groupBy(_.unit)
      .map { case (u, ss) => u -> ss.sortBy(s => (s.start, -s.end)) }

  /** parent index (within the unit's sorted spans) for every span. */
  private val parents: Map[Int, Array[Int]] = byUnit.map { case (u, ss) =>
    val parent = Array.fill(ss.size)(-1)
    val stack = mutable.Stack.empty[Int]
    ss.indices.foreach { i =>
      while (stack.nonEmpty && !(ss(stack.top).start - SlackMs <= ss(i).start &&
             ss(i).end <= ss(stack.top).end + SlackMs)) stack.pop()
      if (stack.nonEmpty) parent(i) = stack.top
      stack.push(i)
    }
    u -> parent
  }

  private val nUnits = math.max(1, byUnit.size)
  private val tracedWallMs =
    ctx.units.collect { case (ms, true) => ms }.sum

  /** Union length of intervals. */
  private def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time (span wall minus the union of its children) by layer, ms
    * per traced unit.
    */
  val selfMs: Seq[(String, Double)] = {
    val acc = mutable.LinkedHashMap.empty[String, Double]
    byUnit.foreach { case (u, ss) =>
      val kids = parents(u).zipWithIndex.filter(_._1 >= 0).groupBy(_._1)
      ss.indices.foreach { i =>
        val childIv = kids.getOrElse(i, Array.empty).map { case (_, c) =>
          (math.max(ss(c).start, ss(i).start), math.min(ss(c).end, ss(i).end)) }
        val self = math.max(0.0, ss(i).ms - covered(childIv.toSeq))
        acc(ss(i).layer) = acc.getOrElse(ss(i).layer, 0.0) + self
      }
    }
    acc.toSeq.sortBy(-_._2).map { case (k, v) => k -> v / nUnits }
  }

  /** Share of traced unit wall covered by the named layer spans directly
    * under each unit span.
    */
  val attributedFrac: Double = {
    val cov = byUnit.map { case (u, ss) =>
      val p = parents(u)
      ss.indices.filter(i => ss(i).layer == "unit").map { root =>
        covered(ss.indices.filter(p(_) == root).map(i => (ss(i).start, ss(i).end)))
      }.sum
    }.sum
    if (tracedWallMs > 0) cov / tracedWallMs else 0.0
  }

  val layers: Seq[(String, Double)] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    ctx.counters.asScala.toSeq.sortBy(_._1).foreach { case (k, v) => m(k) = v / nUnits }
    // wall of each named engine call, per unit
    byUnit.values.flatten.filter(s => s.layer != "unit" &&
        !Set("spark.job", "catalyst", "stream.trigger")(s.layer))
      .groupBy(_.name).foreach { case (n, ss) => m(s"${n}_ms") = ss.map(_.ms).sum / nUnits }
    val cpu = ctx.counters.getOrDefault("spark.exec_run_s", 0.0)
    m("spark.parallelism") = if (tracedWallMs > 0) cpu / (tracedWallMs / 1e3) else 0.0
    val compiles = ctx.counters.getOrDefault("codegen.compiles", 0.0)
    val queries = ctx.counters.getOrDefault("catalyst.queries", 0.0)
    m("codegen.compiles_per_query") = if (queries > 0) compiles / queries else 0.0
    val untraced = ctx.units.collect { case (ms, false) => ms }
    val traced = ctx.units.collect { case (ms, true) => ms }
    def median(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0
      else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
    m("trace.unit_ms") = median(traced.toSeq)
    m("trace.overhead_ms") = median(traced.toSeq) - median(untraced.toSeq)
    m("trace.attributed_frac") = attributedFrac
    m("trace.units") = byUnit.size.toDouble
    selfMs.foreach { case (k, v) => m(s"self_ms.$k") = v }
    m.toSeq
  }

  /** Every span of the run with its parent's id; one trace run id. */
  def spanRecords: Seq[Map[String, Any]] =
    byUnit.toSeq.sortBy(_._1).flatMap { case (u, ss) =>
      ss.indices.map { i =>
        Map("run" -> runId, "unit" -> u, "id" -> i, "parent" -> parents(u)(i),
          "name" -> ss(i).name, "layer" -> ss(i).layer,
          "start_ms" -> ss(i).start, "end_ms" -> ss(i).end)
      }
    }
}
