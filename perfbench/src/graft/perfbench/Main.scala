package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run in this JVM: set-up (Spark session, seeded inputs, and
  * a cold pass with one op of each type), then the fixed op list as a
  * closed loop. Writes its figures as one JSON
  * object to `--result`; `perfbench/run.py` is the entry point.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --result FILE --launch-ms EPOCH_MS
  */
object Main {
  /** The benchmark's workloads, each with the seconds one warm round took
    * in untraced runs on 4 cores (median), which sizes the op list from
    * `--seconds`: the whole number of rounds nearest to it, at least one. */
  def Workloads(name: String, seed: Long): (Workload, Double) = name match {
    case "reservoir" => (new Reservoir(seed), 11.0)
    case "dedup-verify" => (new DedupVerify(seed), 18.0)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toLong
    val seed = opt("seed").toLong
    val work = Paths.get(opt("work")).toAbsolutePath
    val traced = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[${math.min(4, Runtime.getRuntime.availableProcessors)}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkReadyS = (System.currentTimeMillis() - launchMs) / 1e3

    val name = opt("workload")
    val (wl, roundSeconds) = Workloads(name, seed)
    val tracer = new Tracer(traced)
    val listener = new GroupListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, tracer, work)

    val t0 = System.nanoTime()
    wl.generate(work.resolve("in"))
    val inputsS = (System.nanoTime() - t0) / 1e9

    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0; var failed = 0
    val jit0 = Jvm.jitSeconds
    Jvm.resetHeapPeak()

    /** Runs one op, then its check: (seconds, whether it ran without
      * throwing). Only the op is timed, not its check. */
    def runOp(id: Int, op: Op): (Double, Boolean) = {
      spark.sparkContext.setJobGroup(s"op-$id", op.kind, interruptOnCancel = false)
      tracer.op = id
      attempted += 1
      val t0 = System.nanoTime()
      val check = try Some(tracer.span("op")(op.run(ctx))) catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] op $id (${op.kind}) failed: $e")
          e.printStackTrace()
          None
      }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      System.err.println(f"[perfbench] op $id%d ${op.kind}%s $secs%.3f s")
      check.foreach { c =>
        try c().foreach(e => errors += s"op $id (${op.kind}): $e")
        catch { case NonFatal(e) => errors += s"op $id (${op.kind}) check threw: $e" }
      }
      (secs, check.isDefined)
    }

    // the JIT-cold first op of each type, what a one-shot res2csv call
    // pays: part of set-up, since its spread across runs is too wide to
    // bound on its own
    val coldS = wl.round(0).zipWithIndex.map { case (op, i) => runOp(-1 - i, op)._1 }.sum
    val jitCold = Jvm.jitSeconds - jit0
    val setupS = sparkReadyS + inputsS + coldS
    // the traced counters cover the op list only, like the spans
    ctx.scan = ScanFigures.Zero; ctx.deckEvents = 0; ctx.csvBytes = 0

    val rounds = math.max(1, math.round(opt("seconds").toDouble / roundSeconds).toInt)
    val list = (1 to rounds).flatMap(wl.round)
    val gc0 = Jvm.gcSeconds
    val lat = list.zipWithIndex.map { case (op, i) => runOp(i, op) }
    val wallS = lat.map(_._1).sum
    val gcS = Jvm.gcSeconds - gc0
    val opLat = lat.collect { case (secs, true) => secs }

    wl.selfTest().foreach(e => errors += s"self-test: $e")
    val oracle = wl.oracleOutputs(ctx)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(("setup_s", setupS, "s"), ("wall_s", wallS, "s"))
      else {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        val inList: Int => Boolean = _ >= 0
        val groups = list.indices.flatMap(i => Option(listener.byGroup.get(s"op-$i")))
        def t(n: String) = tracer.total(n, inList)
        def under(p: String, c: String) = tracer.totalUnder(p, c, inList)
        val modules = Seq("grid", "summary", "rft", "compdat", "wcon", "gruptree")
        val queries = Seq("q91", "q103", "q195", "q207")
        val residual = list.indices.map { i =>
          val wall = tracer.spans.filter(s => s.op == i && s.name == "op").map(s => (s.end - s.start) / 1e9).sum
          val parts = tracer.spans.filter(s => s.op == i && (s.name.startsWith("op.") || s.name == "io.deck_parse"))
            .map(s => (s.end - s.start) / 1e9).sum
          if (wall > 0) math.abs(wall - parts) / wall else 0.0
        }
        val decodeRate = {
          val files = wl.binaryFiles
          val t0 = System.nanoTime()
          files.foreach(f => graft.io.EclKw.read(f.toString))
          val secs = (System.nanoTime() - t0) / 1e9
          if (files.isEmpty) 0.0 else files.map(Files.size(_)).sum / 1e6 / secs
        }
        val present = list.map(op => wl.payloadsPresent(op.kind)).sum
        tracer.write(Paths.get(".bench_build", "trace", s"$name.spans.jsonl").toAbsolutePath)
        Seq(
          ("trace.wall_s", wallS, "s"),
          ("setup.spark_s", sparkReadyS, "s"), ("setup.inputs_s", inputsS, "s"),
          ("setup.cold_s", coldS, "s"),
          ("jvm.jit_s", Jvm.jitSeconds - jit0, "s"), ("jvm.jit_cold_s", jitCold, "s"),
          ("jvm.gc_s", gcS, "s"), ("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"),
          ("op.construct_s", t("op.construct"), "s"), ("op.plan_s", t("op.plan"), "s"),
          ("op.exec_s", t("op.exec"), "s"),
          ("op.residual_share", if (residual.isEmpty) 0.0 else residual.max, "ratio"),
          ("op.p50_s", if (opLat.isEmpty) 0.0 else median(opLat), "s"),
          ("spark.jobs", groups.map(_.jobs).sum.toDouble, "count"),
          ("spark.stages", groups.map(_.stages).sum.toDouble, "count"),
          ("spark.tasks", groups.map(_.tasks).sum.toDouble, "count"),
          ("spark.sched_delay_s", groups.map(_.schedMs).sum / 1e3, "s"),
          ("spark.task_cpu_s", groups.map(_.cpuNs).sum / 1e9, "s"),
          ("spark.shuffle_mb", groups.map(_.shuffleBytes).sum / 1e6, "MB"),
          ("spark.spill_mb", groups.map(_.spillBytes).sum / 1e6, "MB"),
          ("io.input_mb", list.map(op => wl.inputBytes(op.kind)).sum / 1e6, "MB"),
          ("io.payloads_decoded", ctx.scan.payloads.toDouble, "count"),
          ("io.payloads_present", present.toDouble, "count"),
          ("io.decoded_share", if (present > 0) ctx.scan.payloads.toDouble / present else 0.0, "ratio"),
          ("io.geom_cells", ctx.scan.geomCells.toDouble, "count"),
          ("io.param_slots_decoded", ctx.scan.paramSlots.toDouble, "count"),
          ("io.decode_mb_per_s", decodeRate, "MB/s"),
          ("io.deck_parse_s", t("io.deck_parse"), "s"),
          ("io.deck_events", ctx.deckEvents.toDouble, "count"),
          ("datasource.partitions", ctx.scan.partitions.toDouble, "count"),
          ("datasource.rows_out", ctx.scan.rowsOut.toDouble, "count")) ++
          modules.map(m => (s"modules.${m}_s", under(s"modules.$m", "op.construct") +
            under(s"modules.$m", "op.plan"), "s")) ++
          Seq(("write.unsmry_s", t("write.unsmry"), "s"), ("write.include_s", t("write.include"), "s"),
            ("cli.csv_s", modules.map(m => under(s"modules.$m", "op.exec")).sum, "s"),
            ("cli.csv_mb", ctx.csvBytes / 1e6, "MB")) ++
          queries.map(q => (s"queries.${q}_s", t(s"queries.$q"), "s"))
      }

    val json = new StringBuilder("{")
    json ++= s""""correct": ${errors.isEmpty}, "attempted": $attempted, "failed": $failed, """
    json ++= s""""rounds": $rounds, "errors": [${errors.take(20).map(q).mkString(", ")}], """
    json ++= s""""oracle": [${oracle.map { case (n, p, d) => s"[${q(n)}, ${q(p)}, ${q(d)}]" }.mkString(", ")}], """
    json ++= s""""oracle_sql": {${oracle.map { case (n, _, _) => s"${q(n)}: ${q(graft.SparkEntry.oracleSql(n))}" }.mkString(", ")}}, """
    json ++= s""""metrics": {${metrics.map { case (n, v, u) => s"""${q(n)}: {"value": $v, "unit": ${q(u)}}""" }.mkString(", ")}}"""
    json ++= "}"
    Files.writeString(Paths.get(opt("result")), json.toString)
    errors.take(20).foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.deleteIfExists(_))
  }
}
