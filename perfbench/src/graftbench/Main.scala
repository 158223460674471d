package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.{Oracles, SparkEntry}

/** One benchmark run of one workload, single client, closed loop: each
  * op starts when the previous one has finished.
  *
  * Usage: `graftbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir> --work <dir> [--rows-per-pass <n>]`.
  * Writes `<work>/result.json` (and `<work>/trace.jsonl` when traced);
  * `perfbench/run.py` builds, generates inputs, runs this, checks the
  * oracle outputs and prints the result line.
  *
  * A run: three session set-ups (the first from JVM start), then a fixed
  * number of passes over the workload's op list: `--seconds` divided by
  * the workload's nominal pass time, at least two, one more when traced.
  * Pass 0 is the cold pass: each op's first run in the session. Traced
  * runs trace the warm passes 1, 3, ... and leave the others untraced, so
  * the cold pass is measured as in an untraced run and pass 2 gives the
  * untraced warm time the tracing overhead is measured against.
  */
object Main {
  /** The queries ROADMAP items target; see perfbench/README.md. */
  val heavy: Seq[String] = Seq("x131", "x101", "x04", "x05", "x06", "x168",
    "x73", "x142")

  /** Heavy queries whose outputs each run compares with the DuckDB
    * oracle; the rest are checked by cold/warm output identity only. */
  val oracleChecksPerRun = 4

  /** x142's oracle replays the corpus-prep manifest chain, which takes
    * DuckDB over 100 s at sf0.01: longer than a whole run. */
  val slowOracles = Set("x142_manifest_export")

  /** A pass's time on a 4-core machine at the parent commit. The pass
    * count is fixed from `--seconds` with it, never from measured times,
    * so a run always does the same work and warm passes sit at the same
    * point of the JIT warm-up curve. */
  val nominalPassSeconds = Map("chain_daily" -> 12.0, "corpus_heavy" -> 17.0)

  def fullName(id: String): String =
    SparkEntry.queries.keys.find(_.startsWith(id + "_")).getOrElse(
      sys.error(s"no registered query $id"))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Workload-independent warm-up: aggregation, join, window, and the
    * parquet, JSON and CSV readers and writers, once each. */
  def warm(spark: SparkSession, work: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val w = spark.range(10000).selectExpr("id", "id % 7 AS k")
    w.join(w.selectExpr("k AS k2", "id AS id2"),
        org.apache.spark.sql.functions.expr("k = k2 AND id2 < 20"))
      .selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .where("rn = 1").collect()
    val t = spark.range(1000).selectExpr("id", "cast(id AS decimal(38,4)) AS d",
      "cast(id AS string) AS s")
    t.write.mode("overwrite").parquet(s"$work/warmup/p")
    t.write.mode("overwrite").json(s"$work/warmup/j")
    t.write.mode("overwrite").option("header", "true").csv(s"$work/warmup/c")
    spark.read.parquet(s"$work/warmup/p").join(
      spark.read.schema(t.schema).json(s"$work/warmup/j"), "id").collect()
    spark.read.option("header", "true").csv(s"$work/warmup/c").count()
  }

  final case class OpRun(pass: Int, name: String, seconds: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val data = opt("data")
    val work = opt("work")

    // -------- set-up: JVM start to a warmed session, three times
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(work)
    warm(spark, work)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    for (_ <- 1 to 2) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      warm(spark, work)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val trace = if (traced) Some(new Trace(spark)) else None

    // -------- the workload's ops
    val corpusNames: Seq[String] = workload match {
      case "corpus_heavy" => heavy.map(fullName)
      case "chain_daily" => Nil
      case w => sys.error(s"unknown workload $w")
    }
    val chain = if (workload == "chain_daily") Some(new ChainDaily(spark, data, work)) else None
    val corpus = new Corpus(spark, data)
    val opNames = chain.fold(corpusNames)(_.opDays)
    val passes = math.max(2, (seconds / nominalPassSeconds(workload)).toInt) +
      (if (traced) 1 else 0)

    val runs = mutable.ArrayBuffer.empty[OpRun]
    val errors = mutable.ArrayBuffer.empty[String]
    val fingerprints = mutable.Map.empty[String, mutable.Set[(Long, BigDecimal)]]
    val chainOuts = mutable.Map.empty[Int, Seq[OpOut]]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passPinned = mutable.ArrayBuffer.empty[(Double, Int)]
    def pinnedMb: Double =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val pinnedAtStart = pinnedMb

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var pass = 0
    var lastTable: Option[ChainTable] = None
    while (pass < passes) {
      val tr = trace.filter(_ => pass % 2 == 1)
      val table = chain.map(_.table(pass))
      val outs = mutable.ArrayBuffer.empty[OpOut]
      var wall = 0.0
      opNames.foreach { name =>
        tr.foreach(_.beginOp())
        val t0 = System.nanoTime()
        val ok = try {
          def body(): Unit = (chain, table) match {
            case (Some(c), Some(t)) => c.op(t, name, tr, pass)
            case _ =>
              val fp = corpus.op(name, tr, pass)
              fingerprints.getOrElseUpdate(name, mutable.Set.empty) += fp
          }
          tr.fold(body())(_.span(s"op:$name", pass)(body()))
          true
        } catch {
          case e: Throwable =>
            errors += s"$name (pass $pass): ${e.getClass.getName}: ${e.getMessage}"
            false
        }
        val secs = (System.nanoTime() - t0) / 1e9
        wall += secs
        tr.foreach(_.endOp())
        runs += OpRun(pass, name, secs, ok)
        for (c <- chain; t <- table if ok) outs += c.after(t)
      }
      passWall += wall
      passPinned += ((pinnedMb, sc.getPersistentRDDs.size))
      chainOuts(pass) = outs.toSeq
      for (c <- chain; t <- table) {
        lastTable.foreach(old => deleteTree(Paths.get(old.root)))
        lastTable = Some(t)
      }
      pass += 1
    }
    val measured = elapsed

    // -------- output checks, outside the timed region
    val checks = mutable.ArrayBuffer.empty[String]
    for (c <- chain; t <- lastTable) checks ++= c.check(t)
    for (c <- chain; (p, outs) <- chainOuts; o <- outs.lastOption if o.inserted != 0)
      checks += s"pass $p: day-1 replay inserted ${o.inserted} rows"
    fingerprints.foreach { case (q, fps) =>
      if (fps.size > 1) checks += s"$q: outputs differ between passes ($fps)"
    }
    if (chain.isEmpty) {
      val dumpDir = s"$work/check"
      val checked = new scala.util.Random(seed).shuffle(corpusNames.filter(q =>
        SparkEntry.oracleSql.contains(q) && !Oracles.pinnedToSf001(q) && !slowOracles(q)))
        .take(oracleChecksPerRun)
      checked.foreach { q =>
        try corpus.dump(q, data, dumpDir)
        catch { case e: Throwable => checks += s"$q: check run failed: ${e.getMessage}" }
      }
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => checked.contains(k) }
      Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"),
        oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
    }

    // -------- metrics
    val warmRuns = runs.filter(_.pass > 0)
    val untracedWarm = (1 until pass).filter(p => !traced || p % 2 == 0)
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setups.toSeq), "s"),
      "wall_s" -> (passWall(0), "s"),
      "warm_wall_s" -> (median(untracedWarm.map(passWall)), "s"),
      "op_p50_s" -> (median(warmRuns.map(_.seconds).toSeq), "s"),
      "pinned_mb" -> (passPinned(0)._1 - pinnedAtStart, "MB"))
    for (c <- chain) m("rows_per_s") =
      (opt("rows-per-pass").toDouble / passWall(0), "1/s")
    val info = mutable.LinkedHashMap[String, Any](
      "passes" -> pass, "ops_per_pass" -> opNames.size, "op_samples" -> warmRuns.size,
      "measured_s" -> measured, "setups_s" -> setups.toSeq, "pass_wall_s" -> passWall.toSeq,
      "errors" -> errors.toSeq,
      "op_s" -> runs.map(r => Seq(r.pass, r.name, r.seconds)).toSeq)
    trace.foreach { tr =>
      BenchBus.drain(sc)
      tr.writeJsonl(s"$work/trace.jsonl")
      val layers = new Layers(tr, runs.toSeq, chain, chainOuts.toMap, passWall.toSeq,
        passPinned.toSeq, pinnedAtStart, heavy.map(h => h -> fullName(h)))
      m ++= layers.metrics(pass)
      info("self_s") = layers.selfTimes
    }
    val attempted = runs.size
    val failed = runs.count(!_.ok)
    Files.writeString(Paths.get(s"$work/result.json"), Json.obj(Seq(
      "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.toSeq,
      "metrics" -> m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toSeq,
      "info" -> info.toSeq)))
    spark.stop()
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case kv: Seq[_] if kv.forall { case (_: String, _) => true; case _ => false } && kv.nonEmpty =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => s"${str(k)}:${apply(x)}" }.mkString("{", ",", "}")
}
