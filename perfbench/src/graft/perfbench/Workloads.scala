package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What an op's timed part hands back: the check to run once the clock
  * has stopped (None = pass, Some = what is wrong). */
final case class Op(kind: String, run: Ctx => (() => Option[String]))

/** The benchmark's handle on the program: every call into a layer goes
  * through `step` or `plain`, which are plain calls with tracing off. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path) {
  var scan: ScanFigures = ScanFigures.Zero
  var deckEvents = 0L
  var csvBytes = 0L

  /** construct (the call that returns the DataFrame), plan (traced runs
    * force the physical plan on its own), exec (the sink). */
  def step[A](kind: String)(construct: => DataFrame)(sink: DataFrame => A): A =
    tracer.span(kind) {
      val df = tracer.span("op.construct")(construct)
      if (tracer.on) tracer.span("op.plan")(df.queryExecution.executedPlan)
      val out = tracer.span("op.exec")(sink(df))
      if (tracer.on) scan = scan + ScanFigures.of(df.queryExecution.executedPlan)
      out
    }

  /** A call with no DataFrame of its own to plan: all of it is exec. */
  def plain[A](kind: String)(body: => A): A = tracer.span(kind)(tracer.span("op.exec")(body))

  def outDir(op: Int): Path = Files.createDirectories(work.resolve(s"out/op-$op"))
}

/** A source of ops. A round holds one op of each type; round 0 is the
  * cold pass, rounds 1..n the measured list. */
trait Workload {
  def generate(dir: Path): Unit
  def round(k: Int): Seq[Op]
  /** Binary input bytes an op of this kind reads. */
  def inputBytes(kind: String): Long = 0L
  /** Payloads present in the files an op of this kind selects (traced). */
  def payloadsPresent(kind: String): Long = 0L
  /** Binary files for the direct decode-rate probe (traced). */
  def binaryFiles: Seq[Path] = Nil
  /** The checks applied to perturbed outputs: what is wrong when a check
    * accepts one (empty = every perturbed output was rejected). */
  def selfTest(): Seq[String]
  /** Results the launcher compares with the DuckDB oracle, as
    * (query name, parquet dir, docs dir). */
  def oracleOutputs(ctx: Ctx): Seq[(String, String, String)] = Nil
}

object Check {
  /** A CSV table: header and rows. */
  type Csv = (Array[String], Array[Array[String]])

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  def expect(what: String, got: Any, want: Any): Option[String] = (got, want) match {
    case (g: Double, w: Double) if close(g, w) => None
    case (g, w) if g == w => None
    case (g, w) => Some(s"$what: got $g, want $w")
  }

  def all(cs: Option[String]*): Option[String] = cs.flatten.headOption

  /** Self-test verdicts: each named check, given a perturbed output, must
    * have found something wrong. */
  def mustReject(cases: (String, Option[String])*): Seq[String] =
    cases.collect { case (n, None) => s"the check '$n' accepted a perturbed output" }

  /** A CSV written by the program's sink: header and rows, split on commas
    * (no generated value holds a comma or a quote). */
  def readCsv(p: Path): Csv = {
    val lines = Files.readAllLines(p).asScala.filter(_.nonEmpty).toArray
    (lines.head.split(",", -1), lines.tail.map(_.split(",", -1)))
  }

  def colSum(csv: Csv, c: String): Double = {
    val i = csv._1.indexOf(c)
    require(i >= 0, s"no column $c in ${csv._1.mkString(",")}")
    csv._2.map(r => r(i).toDouble).sum
  }
}

// ---- reservoir --------------------------------------------------------------

/** One forward-model step and its analysis: each round is one
  * realization's csv2res/res2csv job, then the analyst queries over the
  * ensemble. The single-case readers and the fleet sources are separate
  * decode paths, and this workload keeps both loaded. Its two halves are
  * plain helpers, `RoundTrip` and `EnsembleSql`. */
final class Reservoir(seed: Long) extends Workload {
  private val job = new RoundTrip(seed)
  private val sql = new EnsembleSql(seed)
  def generate(d: Path): Unit = {
    job.generate(d.resolve("realizations")); sql.generate(d.resolve("ensemble"))
  }
  def round(k: Int): Seq[Op] = job.round(k) ++ sql.round(k)
  override def inputBytes(kind: String): Long =
    if (kind == RoundTrip.Kind) job.inputBytes else sql.inputBytes(kind)
  override def payloadsPresent(kind: String): Long = sql.payloadsPresent(kind)
  override def binaryFiles: Seq[Path] = job.binaryFiles ++ sql.binaryFiles
  def selfTest(): Seq[String] = job.selfTest() ++ sql.selfTest()
}

// ---- one realization's job ---------------------------------------------------

final class RoundTrip(seed: Long) {
  import graft.cli.{Csv2Res, Res2Csv}
  import Check._
  private val R = 3
  private var dir: Path = _
  private lazy val reals = (0 until R).map(r => Realization(seed, r))

  def generate(d: Path): Unit = { dir = d; reals.foreach(x => x.write(d.resolve(s"real-${x.r}"))) }

  private def realDir(r: Int) = dir.resolve(s"real-$r")

  def op(r: Int, opId: Int): Op = Op(RoundTrip.Kind, { ctx =>
    val x = reals(r)
    val rd = realDir(r)
    val out = ctx.outDir(opId)
    val spark = ctx.spark
    // csv2res: the satfunc table to an include file, the wide summary to SMSPEC/UNSMRY
    val include = ctx.step("write.include") {
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(rd.resolve("satfunc.csv").toString)
    } { df =>
      val text = Csv2Res.typedCsvToInclude(df, "SATNUM", None)
      Files.writeString(out.resolve("relperm.inc"), text)
      text
    }
    ctx.plain("write.unsmry") {
      Csv2Res.summaryCsvToBinary(spark, rd.resolve("summary.csv").toString,
        rd.resolve("CASE").toString)
    }
    // res2csv: binary modules from the files next to the deck, deck
    // modules from its text, each through the CLI's CSV sink
    val datafile = rd.resolve("CASE.DATA").toString
    val deckText = Files.readString(rd.resolve("CASE.DATA"))
    if (ctx.tracer.on)
      ctx.deckEvents += ctx.tracer.span("io.deck_parse")(graft.io.DeckParser.parse(deckText).length)
    for (m <- Seq("grid", "summary", "rft"))
      ctx.step(s"modules.$m")(Res2Csv.PathModules(m)(spark, datafile)) { df =>
        Res2Csv.writeCsvFile(df, out.resolve(s"$m.csv").toString)
      }
    for (m <- Seq("compdat", "wcon", "gruptree"))
      ctx.step(s"modules.$m")(Res2Csv.Modules(m)(spark, deckText)) { df =>
        Res2Csv.writeCsvFile(df, out.resolve(s"$m.csv").toString)
      }
    () => {
      ctx.csvBytes += Files.list(out).iterator().asScala.filter(_.toString.endsWith(".csv"))
        .map(Files.size(_)).sum
      val res = checkRealization(x, include, m => readCsv(out.resolve(s"$m.csv")))
      Main.deleteTree(out)
      res
    }
  })

  def checkRealization(x: Realization, include: String, csv: String => Csv): Option[String] = {
    val grid = csv("grid")
    val rft = csv("rft")
    val wcon = csv("wcon")
    all(
      checkInclude(x, include),
      checkSummary(x, csv("summary")),
      expect("grid rows", grid._2.length.toLong, x.gridRows),
      expect("grid PRESSURE sum", colSum(grid, "PRESSURE"), x.gridPressureSum),
      expect("grid VOLUME sum", colSum(grid, "VOLUME"), x.gridRows * x.grid.cellVolume),
      expect("rft rows", rft._2.length.toLong, x.rftRows),
      expect("rft PRESSURE sum", colSum(rft, "PRESSURE"), x.rftPressureSum),
      expect("compdat rows (K1-K2 unrolled)", csv("compdat")._2.length.toLong, x.compdatRows),
      expect("wcon rows", wcon._2.length.toLong, x.wconRows),
      expect("wcon ORAT sum", colSum(wcon, "ORAT"), x.wconOratSum),
      expect("wcon dates", wcon._2.map(r => r(wcon._1.indexOf("DATE")).take(10)).toSet, x.wconDates),
      expect("gruptree rows", csv("gruptree")._2.length.toLong, x.gruptreeRows))
  }

  /** The include's numbers, in order, are the CSV table's values. */
  def checkInclude(x: Realization, text: String): Option[String] = {
    val nums = text.linesIterator.filterNot(_.trim.startsWith("--"))
      .flatMap(_.trim.split("\\s+")).flatMap(_.toDoubleOption).toSeq
    val want = x.satRows.flatMap { case (_, sw, krw, krow, pc) => Seq(sw, krw, krow, pc) }
    if (!text.contains("SWOF")) Some("include has no SWOF keyword")
    else expect("include table values", nums, want)
  }

  /** csv2res then res2csv gives back the summary CSV it started from. */
  def checkSummary(x: Realization, csv: Csv): Option[String] = {
    val (head, rows) = csv
    val byDate = rows.map(r => r(0).take(10) -> r).toMap
    expect("summary rows", rows.length, Realization.SumDays).orElse {
      (for (t <- 0 until Realization.SumDays; v <- x.vectors.indices) yield {
        val ci = head.indexOf(x.vectors(v))
        byDate.get(x.sumDate(t).toString) match {
          case None => Some(s"summary round trip lost ${x.sumDate(t)}")
          case Some(r) if ci < 0 => Some(s"summary round trip lost ${x.vectors(v)}")
          case Some(r) => expect(s"summary ${x.vectors(v)} at ${x.sumDate(t)}", r(ci).toDouble,
            x.sumValue(v, t))
        }
      }).flatten.headOption
    }
  }

  def round(k: Int): Seq[Op] = Seq(op(k % R, k))

  /** Binary input bytes one realization's job reads. */
  def inputBytes: Long =
    binaryFiles.filter(_.getParent.getFileName.toString == "real-0").map(Files.size(_)).sum
  def binaryFiles: Seq[Path] =
    (0 until R).flatMap(r => Seq("EGRID", "INIT", "UNRST", "RFT", "SMSPEC", "UNSMRY")
      .map(e => realDir(r).resolve(s"CASE.$e"))).filter(Files.exists(_))

  /** The module tables the closed forms give, holding only the columns
    * the checks read, then each check shown to reject a perturbed copy. */
  def selfTest(): Seq[String] = {
    val x = reals(0)
    val good = x.satRows.flatMap { case (_, a, b, c, d) => Seq(a, b, c, d) }
    val include = "SWOF\n" + good.mkString(" ")
    def table(head: String*)(rows: Seq[Seq[Any]]): Csv =
      (head.toArray, rows.map(_.map(_.toString).toArray).toArray)
    val tables = Map(
      "summary" -> table("DATE" +: x.vectors: _*)((0 until Realization.SumDays).map(t =>
        x.sumDate(t) +: x.vectors.indices.map(v => x.sumValue(v, t)))),
      "grid" -> table("PRESSURE", "VOLUME")(for (s <- 0 until Realization.Steps;
        i <- 0 until x.grid.nactive) yield Seq(x.pressure(s, i), x.grid.cellVolume)),
      "rft" -> table("PRESSURE")(for (d <- 0 until Realization.RftDates; w <- 1 to Realization.RftWells;
        n <- 0 until Realization.RftConns) yield Seq(x.rftPressure(w, d, n))),
      "compdat" -> table("WELL")(Seq.fill(x.compdatRows.toInt)(Seq("W"))),
      "wcon" -> table("DATE", "ORAT")(for (w <- 1 to Realization.Wells; d <- 0 until Realization.SchedDates)
        yield Seq(x.schedDate(d), x.orat(w, d))),
      "gruptree" -> table("CHILD")(Seq.fill(x.gruptreeRows.toInt)(Seq("G"))))
    def bump(m: String, row: Int, c: String, by: Double): Map[String, Csv] = {
      val (head, rows) = tables(m); val i = head.indexOf(c)
      tables.updated(m, (head, rows.updated(row, rows(row).updated(i, (rows(row)(i).toDouble + by).toString))))
    }
    def drop(m: String): Map[String, Csv] = tables.updated(m, (tables(m)._1, tables(m)._2.tail))
    val (wHead, wRows) = tables("wcon")
    val lostDate = tables.updated("wcon", (wHead, wRows.map(r =>
      if (r(0) == x.schedDate(0).toString) r.updated(0, x.schedDate(1).toString) else r)))
    checkRealization(x, include, tables).map(e => s"the closed-form realization tables fail: $e").toSeq ++
      mustReject(
        "include" -> checkInclude(x, "SWOF\n" + good.updated(5, good(5) + 0.5).mkString(" ")),
        "include-missing-row" -> checkInclude(x, "SWOF\n" + good.dropRight(4).mkString(" ")),
        "summary" -> checkRealization(x, include, bump("summary", 7, x.vectors(2), 1.5)),
        "summary-lost-date" -> checkRealization(x, include, drop("summary")),
        "grid-pressure" -> checkRealization(x, include, bump("grid", 5, "PRESSURE", 0.25)),
        "grid-volume" -> checkRealization(x, include, bump("grid", 3, "VOLUME", 1)),
        "grid-row" -> checkRealization(x, include, drop("grid")),
        "rft-pressure" -> checkRealization(x, include, bump("rft", 2, "PRESSURE", 0.5)),
        "rft-row" -> checkRealization(x, include, drop("rft")),
        "compdat-row" -> checkRealization(x, include, drop("compdat")),
        "wcon-orat" -> checkRealization(x, include, bump("wcon", 4, "ORAT", 0.5)),
        "wcon-row" -> checkRealization(x, include, drop("wcon")),
        "wcon-lost-date" -> checkRealization(x, include, lostDate),
        "gruptree-row" -> checkRealization(x, include, drop("gruptree")))
  }
}

object RoundTrip { val Kind = "realization" }

// ---- analyst SQL over an ensemble -------------------------------------------

final class EnsembleSql(seed: Long) {
  import Check._
  private val ens = Ensemble(seed)
  private var dir: String = _
  private def cases = 0 until Ensemble.Cases

  def generate(d: Path): Unit = { dir = d.toString; ens.write(d) }

  private def load(kind: String, vectors: String = "") = {
    val r = SparkSession.active.read.format(s"eclipse-$kind")
    (if (vectors.isEmpty) r else r.option("vectors", vectors)).load(s"$dir/*.${kind.toUpperCase}")
  }
  private def base(s: String): String = java.nio.file.Paths.get(s).getFileName.toString
    .replaceAll("\\.[A-Z]+$", "")

  private def rowsOf(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq.map {
    case d: java.sql.Date => d.toString
    case s: String => base(s)
    case other => other
  })

  private def compare(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    expect(s"$what rows", got.length, want.length).orElse(
      got.zip(want).zipWithIndex.iterator.flatMap { case ((g, w), i) =>
        if (g.length != w.length) Some(s"$what row $i: got $g, want $w")
        else g.zip(w).flatMap { case (a, b) =>
          val an = a match { case n: java.lang.Number => n.doubleValue(); case o => o }
          val bn = b match { case n: java.lang.Number => n.doubleValue(); case o => o }
          expect(s"$what row $i", an, bn)
        }.headOption
      }.nextOption())

  private def percentile(v: Seq[Double], p: Double): Double = {
    val s = v.sorted; val pos = (s.length - 1) * p
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }

  /** (kind, frame, closed-form rows) of each query; `k` seeds its parameters. */
  private def query(q: String, k: Int): (DataFrame, Seq[Seq[Any]]) = {
    val g = Gen.rng(seed, 1000L + k)
    q match {
      case "fopt_pct" =>
        (load("unsmry").where(col("VECTOR") === "FOPT").groupBy("DATE")
          .agg(expr("percentile(VALUE, 0.1)"), expr("percentile(VALUE, 0.5)"),
            expr("percentile(VALUE, 0.9)")).orderBy("DATE"),
          (0 until Ensemble.SumSteps).map { t =>
            val v = cases.map(ens.fopt(_, t))
            Seq(ens.sumDate(t).toString, percentile(v, 0.1), percentile(v, 0.5), percentile(v, 0.9))
          })
      case "misfit_topk" =>
        val lo = g.nextInt(Ensemble.SumSteps - 40); val ts = lo until lo + 40 by 4
        val spark = SparkSession.active
        import spark.implicits._
        val obs = ts.map(t => (java.sql.Date.valueOf(ens.sumDate(t)), ens.obsFopr(t))).toDF("DATE", "OBS")
        (load("unsmry").where(col("VECTOR") === "FOPR" &&
            col("DATE").between(java.sql.Date.valueOf(ens.sumDate(ts.head)),
              java.sql.Date.valueOf(ens.sumDate(ts.last))))
          .join(obs, "DATE").groupBy("CASE")
          .agg(sum(pow(col("VALUE") - col("OBS"), 2)).as("misfit"))
          .orderBy(col("misfit"), col("CASE")).limit(5),
          cases.map(c => (ens.name(c), ts.map(t => math.pow(ens.fopr(c, t) - ens.obsFopr(t), 2)).sum))
            .sortBy(x => (x._2, x._1)).take(5).map(x => Seq(x._1, x._2)))
      case "pressure_date" =>
        val s = g.nextInt(Ensemble.Steps)
        val vs = cases.flatMap(c => (0 until ens.grid(c).nactive).map(ens.pressure(c, s, _)))
        (load("unrst", "PRESSURE").where(col("DATE") === java.sql.Date.valueOf(ens.rstDate(s)))
          .agg(count(lit(1)), min("PRESSURE"), max("PRESSURE"), avg("PRESSURE")),
          Seq(Seq(vs.length.toLong, vs.min, vs.max, vs.sum / vs.length)))
      case "rft_profile" =>
        val w = 1 + g.nextInt(Ensemble.RftWells); val d = g.nextInt(Ensemble.RftDates)
        (load("rft", "DEPTH,PRESSURE").where(col("WELL") === ens.wellName(w) &&
            col("DATE") === java.sql.Date.valueOf(ens.rftDate(d)))
          .select("CASE", "CONIDX", "DEPTH", "PRESSURE").orderBy("CASE", "CONIDX"),
          for (c <- cases; n <- 0 until Ensemble.RftConns)
            yield Seq(ens.name(c), n + 1, ens.rftDepth(w, n), ens.rftPressure(c, w, d, n)))
      case "geom_cases" =>
        val picked = Gen.rng(seed, 2000L + k).ints(0, Ensemble.Cases).distinct().limit(3)
          .toArray.sorted.toSeq
        (load("egrid").where(col("CASE").isin(picked.map(c => s"$dir/${ens.name(c)}"): _*))
          .groupBy("CASE").agg(count(lit(1)), sum("VOLUME"), avg("Z")).orderBy("CASE"),
          picked.map { c =>
            val gr = ens.grid(c)
            Seq(ens.name(c), gr.nactive.toLong, gr.nactive * gr.cellVolume,
              gr.active.map(x => gr.zCentre(x._3)).sum / gr.nactive)
          })
      case "porv_full" =>
        (load("egrid", "PORO").groupBy("CASE")
          .agg(count(lit(1)), sum(col("VOLUME") * col("PORO"))).orderBy("CASE"),
          cases.map { c =>
            val gr = ens.grid(c)
            Seq(ens.name(c), gr.nactive.toLong,
              (0 until gr.nactive).map(i => gr.cellVolume * ens.poro(c, i)).sum)
          })
      case "pressure_mean_full" =>
        (load("unrst", "PRESSURE").groupBy("CASE")
          .agg(count(lit(1)), avg("PRESSURE")).orderBy("CASE"),
          cases.map { c =>
            val n = ens.grid(c).nactive
            val vs = for (s <- 0 until Ensemble.Steps; i <- 0 until n) yield ens.pressure(c, s, i)
            Seq(ens.name(c), vs.length.toLong, vs.sum / vs.length)
          })
    }
  }

  val Queries = Seq("fopt_pct", "misfit_topk", "pressure_date", "rft_profile",
    "geom_cases", "porv_full", "pressure_mean_full")

  private def op(q: String, k: Int): Op = Op(q, { ctx =>
    var want: Seq[Seq[Any]] = Nil
    val rows = ctx.step(s"sql.$q") {
      val (df, w) = query(q, k); want = w; df
    }(_.collect())
    () => compare(q, rowsOf(rows), want)
  })

  def round(k: Int): Seq[Op] = Queries.zipWithIndex.map { case (q, i) => op(q, k * Queries.length + i) }

  private def kindOf(q: String) = q match {
    case "fopt_pct" | "misfit_topk" => "unsmry"
    case "pressure_date" | "pressure_mean_full" => "unrst"
    case "rft_profile" => "rft"
    case _ => "egrid"
  }
  private def files(kind: String) = kind match {
    case "egrid" => Seq("EGRID", "INIT")
    case "unsmry" => Seq("SMSPEC", "UNSMRY")
    case k => Seq(k.toUpperCase)
  }
  def inputBytes(q: String): Long = {
    val cs = if (q == "geom_cases") 3 else Ensemble.Cases
    val exts = if (q == "geom_cases") Seq("EGRID") else files(kindOf(q))
    // every member has the same layout, so one member's sizes stand for all
    cs * exts.map(e => Files.size(java.nio.file.Paths.get(dir, s"${ens.name(0)}.$e"))).sum
  }
  def payloadsPresent(q: String): Long =
    if (Queries.contains(q)) Ensemble.Cases * ens.payloadsPerCase(kindOf(q)) else 0L
  def binaryFiles: Seq[Path] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq.sorted

  def selfTest(): Seq[String] =
    mustReject(Queries.flatMap { q =>
      val want = query(q, 0)._2
      val bumped = want.updated(0, want(0).updated(want(0).length - 1, want(0).last match {
        case d: Double => d + 0.25
        case l: Long => l + 1
        case i: Int => i + 1
        case o => o
      }))
      Seq(s"$q-value" -> compare(q, bumped, want), s"$q-row" -> compare(q, want.tail, want))
    }: _*)
}

// ---- dedup-verify ----------------------------------------------------------

final class DedupVerify(seed: Long) extends Workload {
  import Check._
  /** The largest subset whose runs fit the time budget (see README). */
  val DocCount = 2000
  private var dir: String = _
  private lazy val docs = Docs.subset(seed, DocCount)
  private lazy val tokenSets: Map[Long, Set[String]] =
    docs.map(d => d.id -> d.text.trim.split("\\s+").filter(_.nonEmpty).toSet).toMap

  /** q101 and q208 are left out to keep a run within its time budget: q91
    * runs the same MinHash band kernel as q101, q207 the same suffix
    * machinery as q208. */
  val Queries = Seq("q91_lsh_verify", "q103_split_leakage", "q195_edit_verify",
    "q207_decontam_clip")
  private val Oracle = Set("q195_edit_verify", "q207_decontam_clip")
  /** The rows of the last run of each query, and the first run's digest. */
  private val last = scala.collection.mutable.Map.empty[String, DataFrame]
  private val digests = scala.collection.mutable.Map.empty[String, Int]

  def generate(d: Path): Unit = {
    dir = d.toString
    val spark = SparkSession.active
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = docs.toSeq.map(x => Row(x.id, x.text, x.lang, x.source, x.text.length.toLong))
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (tokenSets(a), tokenSets(b))
    (x & y).size.toDouble / (x | y).size
  }
  private def round6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Each sampled q91 pair is a pair of distinct corpus documents whose
    * token-set Jaccard, recomputed here, is at least 0.7 and equals the
    * emitted value. */
  def checkQ91(rows: Seq[Row]): Option[String] = {
    val g = Gen.rng(seed, 3000)
    val sample = if (rows.isEmpty) Nil else Seq.fill(200)(rows(g.nextInt(rows.length)))
    expect("q91 emits pairs", rows.nonEmpty, true).orElse(sample.iterator.flatMap { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(3))
      if (a >= b || !tokenSets.contains(a) || !tokenSets.contains(b)) Some(s"q91 bad pair ($a, $b)")
      else if (j < 0.7) Some(s"q91 pair ($a, $b) below threshold: $j")
      else expect(s"q91 jaccard ($a, $b)", j, round6(jaccard(a, b)))
    }.nextOption())
  }

  private def hashString(s: String): Long = {
    var h = 0L; var i = 0; var n = 0
    while (i < s.length && n < 64) {
      val cp = s.codePointAt(i); h = (h * 131 + cp + 1L) % 2147483647L
      i += Character.charCount(cp); n += 1
    }
    h
  }
  private def split(id: Long): String = {
    val b = Math.floorMod(hashString(s"split:v1|$id"), 10L)
    if (b < 8) "train" else if (b == 8) "val" else "test"
  }

  /** q103 emits one row per non-train document, with the split recomputed
    * here; on a sample, the counts are consistent and a leak's worst
    * Jaccard is the exact Jaccard with some train document. */
  def checkQ103(rows: Seq[Row]): Option[String] = {
    val evalIds = docs.map(_.id).filter(split(_) != "train").toSet
    val train = docs.map(_.id).filter(split(_) == "train")
    val g = Gen.rng(seed, 3001)
    val sample = if (rows.isEmpty) Nil else Seq.fill(100)(rows(g.nextInt(rows.length)))
    expect("q103 eval ids", rows.map(_.getLong(0)).toSet, evalIds).orElse(sample.iterator.flatMap { r =>
      val (id, sp, nCand, nLeaks, leaked, mj) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getDouble(5))
      if (sp != split(id)) Some(s"q103 doc $id split $sp, want ${split(id)}")
      else if (nLeaks > nCand || leaked != (nLeaks > 0)) Some(s"q103 doc $id counts $r")
      else if (leaked && !train.exists(t => round6(jaccard(t, id)) == mj))
        Some(s"q103 doc $id: no train doc has Jaccard $mj")
      else None
    }.nextOption())
  }

  private def digest(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode

  private def op(q: String): Op = Op(q, { ctx =>
    var schema: org.apache.spark.sql.types.StructType = null
    val rows = ctx.step(s"queries.${q.takeWhile(_ != '_')}")(
      graft.SparkEntry.queries(q)(ctx.spark, dir)) { df => schema = df.schema; df.collect() }
    () => {
      val d = digest(rows)
      val same = digests.get(q).flatMap(first => expect(s"$q result changed between runs", d, first))
      digests.getOrElseUpdate(q, d)
      if (Oracle(q)) last(q) = ctx.spark.createDataFrame(rows.toSeq.asJava, schema)
      same.orElse(q match {
        case "q91_lsh_verify" => checkQ91(rows.toSeq)
        case "q103_split_leakage" => checkQ103(rows.toSeq)
        case _ => None
      })
    }
  })

  def round(k: Int): Seq[Op] = Queries.map(op)

  override def oracleOutputs(ctx: Ctx): Seq[(String, String, String)] =
    last.toSeq.sortBy(_._1).map { case (q, df) =>
      val p = ctx.work.resolve(s"oracle/$q").toString
      df.coalesce(1).write.parquet(p)
      (q, p, dir)
    }

  def selfTest(): Seq[String] = {
    val spark = SparkSession.active
    import spark.implicits._
    val (a, b) = (docs(0).id.min(docs(1).id), docs(0).id.max(docs(1).id))
    val q91Row = (a, b, 1L, round6(jaccard(a, b)))
    val q103 = docs.map(_.id).filter(split(_) != "train").map(id =>
      (id, split(id), 0L, 0L, false, 0.0)).toSeq
    val q103Rows = q103.toDF().collect().toSeq
    mustReject(
      "q91-below-threshold" -> checkQ91(Seq(q91Row.copy(_4 = 0.5)).toDF().collect().toSeq),
      "q91-wrong-jaccard" -> checkQ91(Seq(q91Row.copy(_4 = math.max(0.7, q91Row._4) + 0.015625)).toDF().collect().toSeq),
      "q103-missing-doc" -> checkQ103(q103Rows.tail),
      "q103-wrong-split" -> checkQ103(q103.map(r => r.copy(_2 = if (r._2 == "val") "test" else "val"))
        .toDF().collect().toSeq))
  }
}
