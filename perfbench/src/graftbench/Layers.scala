package graftbench

/** Per-layer metrics from a traced run. Times and counts are per pass,
  * taken as the median over the traced passes (1, 3, ...); the
  * `heavy.<q>` times are op times of the untraced cold pass 0 and of
  * the untraced warm passes (2, 4, ...). A metric whose
  * layer a workload does not call reads 0. */
final class Layers(tr: Trace, runs: Seq[Main.OpRun], chain: Option[ChainDaily],
    chainOuts: Map[Int, Seq[OpOut]], passWall: Seq[Double],
    passPinned: Seq[(Double, Int)], pinnedAtStart: Double,
    heavy: Seq[(String, String)]) {

  import Main.median

  private def spansOf(p: Int, prefix: String) =
    tr.spans.filter(s => s.pass == p && s.name.startsWith(prefix)).toSeq
  private def secs(p: Int, prefix: String) = spansOf(p, prefix).map(_.seconds).sum
  private def ops(p: Int) = tr.spans.filter(s => s.pass == p && s.parent == -1).toSeq

  /** Length of the union of [start, end] intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((tot, reach), (a, b)) =>
        if (b <= reach) (tot, reach) else (tot + b - math.max(a, reach), b)
    }._1

  def perPass(p: Int): Map[String, Double] = {
    val st = ops(p).flatMap(o => tr.stagesUnder(o.id))
    val dayBytes = chain.fold(0.0)(c => ops(p).map(o =>
      c.dayBytes(o.name.stripPrefix("op:")).toDouble).sum)
    val loadBytes = spansOf(p, "plans.").flatMap(s => tr.stagesUnder(s.id))
      .map(_.bytesRead).sum.toDouble
    val outs = chainOuts.getOrElse(p, Nil)
    val phase = (k: String) => ops(p).map(o =>
      tr.phases.get(o.id).fold(0.0)(_.getOrElse(k, 0.0))).sum
    val skew = st.filter(a => a.tasks >= 2 && a.runMs >= 200).map { a =>
      val d = a.durations.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }.maxOption.getOrElse(0.0)
    val prevPinned = if (p == 0) pinnedAtStart else passPinned(p - 1)._1
    Map(
      "sources.read_s" -> secs(p, "sources."),
      "sources.input_mb" -> dayBytes / 1e6,
      "sources.read_amp" -> (if (dayBytes > 0) loadBytes / dayBytes else 0.0),
      "plans.select_s" -> (secs(p, "plans.") - secs(p, "sources.")),
      "operators.upsert_s" -> secs(p, "operators.Upsert"),
      "operators.export_s" -> secs(p, "operators.Export"),
      "operators.write_amp" -> {
        val ins = outs.map(_.inserted).sum
        if (ins > 0) outs.map(_.rewritten).sum.toDouble / ins else 0.0
      },
      "queries.analysis_s" -> phase("analysis"),
      "queries.optimize_s" -> phase("optimization"),
      "queries.plan_s" -> phase("planning"),
      "queries.driver_s" -> ops(p).map { o =>
        o.seconds - covered(tr.stagesUnder(o.id).map(a => (a.submitted, a.completed))) / 1e3
      }.sum,
      "queries.jobs" -> ops(p).flatMap(o => tr.descendants(o.id)).map(tr.jobsBySpan).sum.toDouble,
      "queries.stages" -> st.size.toDouble,
      "exec.task_s" -> st.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "exec.tasks" -> st.map(_.tasks).sum.toDouble,
      "exec.skew" -> skew,
      "exec.shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1e6,
      "exec.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1e6,
      "exec.spill_mb" -> st.map(_.spill).sum / 1e6,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "storage.persisted_rdds" -> passPinned(p)._2.toDouble,
      "storage.pinned_mb" -> (passPinned(p)._1 - pinnedAtStart),
      "storage.pinned_mb_delta" -> (passPinned(p)._1 - prevPinned) / math.max(1, ops(p).size))
  }

  def unit(k: String): String =
    if (k.endsWith("_mb_delta") || k.endsWith("_mb")) "MB"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_amp") || k.endsWith("skew")) "ratio"
    else "count"

  def metrics(passes: Int): Seq[(String, (Double, String))] = {
    val traced = (1 until passes by 2)
    val untraced = (2 until passes by 2)
    val per = traced.map(perPass)
    val layer = per.head.keys.toSeq.sorted.map(k => k -> median(per.map(_(k))))
    val heavyTimes = heavy.flatMap { case (id, q) =>
      val mine = runs.filter(_.name == q)
      Seq(s"heavy.$id.cold_s" -> mine.filter(_.pass == 0).map(_.seconds).sum,
        s"heavy.$id.warm_s" -> median(mine.filter(r => untraced.contains(r.pass)).map(_.seconds)))
    }
    val overhead = median(traced.map(passWall)) - median(untraced.map(passWall))
    (layer ++ heavyTimes :+ ("trace.overhead_s" -> overhead))
      .map { case (k, v) => k -> (v, unit(k)) }
  }

  /** Self time per layer (span name up to the first '.'), per traced pass. */
  def selfTimes: Seq[(String, Double)] = {
    val passes = math.max(1, tr.spans.map(_.pass).distinct.size)
    tr.spans.toSeq.groupBy(s => s.name.takeWhile(c => c != '.' && c != ':'))
      .map { case (l, ss) => l -> ss.map(tr.selfSeconds).sum / passes }
      .toSeq.sortBy(-_._2)
  }
}
