package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** A regular corner-point box grid: vertical pillars, flat layers and a
  * closed-form inactive-cell rule, so cell centres and volumes are known
  * exactly. All lengths are dyadic (exact in float32). */
final case class BoxGrid(nx: Int, ny: Int, nz: Int, dx: Double, dy: Double,
    dz: Double, top: Double, inactive: (Int, Int, Int) => Boolean) {
  val actnum: Array[Int] = Array.tabulate(nx * ny * nz) { g =>
    if (inactive(g % nx, g / nx % ny, g / (nx * ny))) 0 else 1
  }
  val nactive: Int = actnum.sum
  val cellVolume: Double = dx * dy * dz
  /** (i, j, k), 0-based, of each active cell in active order. */
  val active: Array[(Int, Int, Int)] = actnum.indices.collect {
    case g if actnum(g) == 1 => (g % nx, g / nx % ny, g / (nx * ny))
  }.toArray
  def zCentre(k: Int): Double = top + (k + 0.5) * dz

  def coord: Array[Float] = {
    val a = new Array[Float]((nx + 1) * (ny + 1) * 6)
    for (pj <- 0 to ny; pi <- 0 to nx) {
      val p = (pj * (nx + 1) + pi) * 6
      a(p) = (pi * dx).toFloat; a(p + 1) = (pj * dy).toFloat; a(p + 2) = top.toFloat
      a(p + 3) = (pi * dx).toFloat; a(p + 4) = (pj * dy).toFloat
      a(p + 5) = (top + nz * dz).toFloat
    }
    a
  }

  def zcorn: Array[Float] = {
    val a = new Array[Float](8 * nx * ny * nz)
    for (k <- 0 until nz; dzb <- 0 to 1; jj <- 0 until 2 * ny; ii <- 0 until 2 * nx)
      a(k * 8 * nx * ny + (dzb * 2 * ny + jj) * 2 * nx + ii) = (top + (k + dzb) * dz).toFloat
    a
  }

  def writeEgrid(path: String): Unit = EclOut(path) { w =>
    val fh = new Array[Int](100); fh(0) = 3
    val gh = new Array[Int](100); gh(0) = 1; gh(1) = nx; gh(2) = ny; gh(3) = nz
    w.inte("FILEHEAD", fh).inte("GRIDHEAD", gh).real("COORD", coord)
      .real("ZCORN", zcorn).inte("ACTNUM", actnum).inte("ENDGRID", Array.empty)
  }
}

object Gen {
  /** One stream per (seed, purpose), so that adding a draw for one input
    * never shifts another. */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  val Start: LocalDate = LocalDate.of(2020, 1, 1)
  private val Months = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
    "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
  def deckDate(d: LocalDate): String =
    s"${d.getDayOfMonth} '${Months(d.getMonthValue - 1)}' ${d.getYear}"

  def f(x: Double): Float = {
    val v = x.toFloat
    require(v.toDouble == x, s"$x is not exact in float32")
    v
  }
}

/** One realization of the `realization-roundtrip` workload. Every value
  * is a closed-form function of (realization parameter `a`, cell, step),
  * dyadic, and so exact in float32. */
final case class Realization(r: Int, a: Double) {
  import Realization._
  val grid: BoxGrid = BoxGrid(Nx, Ny, Nz, 64, 64, 4, 2000,
    (i, j, k) => (3 * i + 5 * j + 7 * k + r) % 11 == 0)

  def poro(ai: Int): Double = 0.125 + ((5 * ai + r) % 32) / 128.0
  def permx(ai: Int): Double = 64 + (ai % 16) * 8.0
  def pressure(s: Int, ai: Int): Double = 200 + a + 2 * s + (ai % 64) * 0.25
  def swat(s: Int, ai: Int): Double = 0.125 + (s % 4) * 0.0625 + (ai % 4) * 0.03125
  def sgas(s: Int): Double = 0.0625 * (s % 2)
  def rstDate(s: Int): LocalDate = Gen.Start.plusMonths(s.toLong)

  def rftDate(d: Int): LocalDate = Gen.Start.plusMonths(3L * d)
  def rftDepth(w: Int, n: Int): Double = 2000 + 4.0 * n + w
  def rftPressure(w: Int, d: Int, n: Int): Double = 240 + a + d + 0.5 * n + w * 0.25

  /** Summary vector names: field vectors then well rates, 50 in all. */
  val vectors: Seq[String] = Seq("FOPR", "FOPT", "FWPR", "FWPT", "FGPR",
    "FGPT", "FWIR", "FWIT", "FPR", "FWCT") ++
    (1 to 20).flatMap(w => Seq(f"WOPR:OP_$w%02d", f"WWPR:OP_$w%02d"))
  def sumDate(t: Int): LocalDate = Gen.Start.plusDays(t.toLong)
  def sumValue(v: Int, t: Int): Double = 16 * v + a + (t % 32) * 0.5 + t * 0.125

  def wellName(w: Int): String = f"W$w%02d"
  def wellHead(w: Int): (Int, Int) = (1 + (w * 7) % Nx, 1 + (w * 3) % Ny)
  def compdatK(w: Int): (Int, Int) = {
    val k1 = 1 + (w + r) % (Nz - 2)
    (k1, math.min(Nz, k1 + 1 + w % 3))
  }
  def schedDate(d: Int): LocalDate = Gen.Start.plusMonths(d.toLong + 1)
  def orat(w: Int, d: Int): Double = 100 + 8 * w + d * 0.5 + a

  def satRows: Seq[(Int, Double, Double, Double, Double)] =
    for (sn <- 1 to SatTables; i <- 0 until SatRows) yield {
      val sw = 0.125 + i * (0.75 / (SatRows - 1).toDouble) // dyadic for SatRows = 13
      (sn, sw, i / 16.0, (SatRows - 1 - i) / 16.0, (SatRows - 1 - i) * 0.03125 * sn)
    }

  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    val base = dir.resolve("CASE").toString
    grid.writeEgrid(s"$base.EGRID")
    val na = grid.nactive
    EclOut(s"$base.INIT") { w =>
      w.inte("INTEHEAD", EclOut.intehead(Nx, Ny, Nz, na, Gen.Start))
        .real("PORO", Array.tabulate(na)(i => Gen.f(poro(i))))
        .real("PERMX", Array.tabulate(na)(i => Gen.f(permx(i))))
    }
    EclOut(s"$base.UNRST") { w =>
      for (s <- 0 until Steps) {
        w.inte("SEQNUM", Array(s))
          .inte("INTEHEAD", EclOut.intehead(Nx, Ny, Nz, na, rstDate(s)))
          .real("PRESSURE", Array.tabulate(na)(i => Gen.f(pressure(s, i))))
          .real("SWAT", Array.tabulate(na)(i => Gen.f(swat(s, i))))
          .real("SGAS", Array.fill(na)(Gen.f(sgas(s))))
      }
    }
    EclOut(s"$base.RFT") { w =>
      for (d <- 0 until RftDates; wl <- 1 to RftWells) {
        val dt = rftDate(d)
        w.real("TIME", Array(Gen.f((dt.toEpochDay - Gen.Start.toEpochDay).toDouble)))
          .inte("DATE", Array(dt.getDayOfMonth, dt.getMonthValue, dt.getYear))
          .char("WELLETC", Array("  DAYS", s"R$wl", "", " METRES", "  BARSA",
            "  SM3/DAY", "  SM3/DAY", "  RM3/DAY", "  M/SEC", "", "   CP",
            "  KG/SM3", "  KG/DAY", "  KG/KG", "", ""))
          .inte("CONIPOS", Array.fill(RftConns)(wl))
          .inte("CONJPOS", Array.fill(RftConns)(wl + 1))
          .inte("CONKPOS", Array.tabulate(RftConns)(n => 1 + n % Nz))
          .real("DEPTH", Array.tabulate(RftConns)(n => Gen.f(rftDepth(wl, n))))
          .real("PRESSURE", Array.tabulate(RftConns)(n => Gen.f(rftPressure(wl, d, n))))
          .real("SWAT", Array.fill(RftConns)(0.25f))
      }
    }
    Files.writeString(dir.resolve("CASE.DATA"), deck)
    val sat = new StringBuilder("KEYWORD,SATNUM,SW,KRW,KROW,PCOW\n")
    satRows.foreach { case (sn, sw, krw, krow, pc) => sat ++= s"SWOF,$sn,$sw,$krw,$krow,$pc\n" }
    Files.writeString(dir.resolve("satfunc.csv"), sat.toString)
    val sum = new StringBuilder("DATE," + vectors.mkString(",") + "\n")
    for (t <- 0 until SumDays) {
      sum ++= sumDate(t).toString
      vectors.indices.foreach(v => sum ++= "," + sumValue(v, t))
      sum += '\n'
    }
    Files.writeString(dir.resolve("summary.csv"), sum.toString)
  }

  def deck: String = {
    val b = new StringBuilder
    b ++= s"START\n ${Gen.deckDate(Gen.Start)} /\n\nSCHEDULE\n\nGRUPTREE\n"
    (1 to Groups).foreach(g => b ++= s" 'G$g' 'FIELD' /\n")
    b ++= "/\n\nWELSPECS\n"
    (1 to Wells).foreach { w =>
      val (i, j) = wellHead(w)
      b ++= s" '${wellName(w)}' 'G${1 + w % Groups}' $i $j 1* 'OIL' /\n"
    }
    b ++= "/\n\nCOMPDAT\n"
    (1 to Wells).foreach { w =>
      val (i, j) = wellHead(w); val (k1, k2) = compdatK(w)
      b ++= s" '${wellName(w)}' $i $j $k1 $k2 'OPEN' /\n"
    }
    b ++= "/\n"
    for (d <- 0 until SchedDates) {
      b ++= s"\nDATES\n ${Gen.deckDate(schedDate(d))} /\n/\n\nWCONHIST\n"
      (1 to Wells).foreach(w => b ++= s" '${wellName(w)}' 'OPEN' 'ORAT' ${orat(w, d)} 0 0 /\n")
      b ++= "/\n"
    }
    b.toString
  }

  // ---- closed-form expectations --------------------------------------

  def gridRows: Long = grid.nactive.toLong * Steps
  def gridPressureSum: Double =
    (for (s <- 0 until Steps; i <- 0 until grid.nactive) yield pressure(s, i)).sum
  def rftRows: Long = RftDates.toLong * RftWells * RftConns
  def rftPressureSum: Double =
    (for (d <- 0 until RftDates; w <- 1 to RftWells; n <- 0 until RftConns)
      yield rftPressure(w, d, n)).sum
  def compdatRows: Long = (1 to Wells).map { w => val (k1, k2) = compdatK(w); k2 - k1 + 1L }.sum
  def wconRows: Long = Wells.toLong * SchedDates
  def wconDates: Set[String] = (0 until SchedDates).map(d => schedDate(d).toString).toSet
  def wconOratSum: Double =
    (for (w <- 1 to Wells; d <- 0 until SchedDates) yield orat(w, d)).sum
  /** One snapshot at START: FIELD, its groups and every well. */
  def gruptreeRows: Long = 1L + Groups + Wells
}

object Realization {
  val Nx = 24; val Ny = 24; val Nz = 8
  val Steps = 10
  val RftWells = 5; val RftDates = 4; val RftConns = 8
  val SumDays = 200
  val Wells = 50; val Groups = 5; val SchedDates = 40
  val SatTables = 4; val SatRows = 13

  def apply(seed: Long, r: Int): Realization =
    Realization(r, Gen.rng(seed, 100 + r).nextInt(64) / 8.0)
}

/** The `ensemble-sql` ensemble: `Cases` members in one directory, each
  * with EGRID, INIT, UNRST, RFT, SMSPEC and UNSMRY written from closed
  * forms of a per-case dyadic parameter. */
final case class Ensemble(params: IndexedSeq[Double]) {
  import Ensemble._
  def name(c: Int): String = f"C$c%03d"
  def a(c: Int): Double = params(c)
  def grid(c: Int): BoxGrid = BoxGrid(Nx, Ny, Nz, 32, 32, 2.0 + (c % 4), 1500,
    (i, j, k) => (i + 2 * j + 3 * k + c) % 9 == 0)

  def poro(c: Int, ai: Int): Double = 0.125 + ((7 * ai + c) % 16) / 64.0
  def pressure(c: Int, s: Int, ai: Int): Double = 250 + a(c) + 2 * s + (ai % 32) * 0.25
  def swat(s: Int): Double = 0.25 + (s % 4) * 0.125
  def rstDate(s: Int): LocalDate = Gen.Start.plusMonths(s.toLong + 1)
  def rftDate(d: Int): LocalDate = Gen.Start.plusMonths(3L * d + 1)
  def rftDepth(w: Int, n: Int): Double = 1500 + 2.0 * n + w
  def rftPressure(c: Int, w: Int, d: Int, n: Int): Double = 240 + a(c) + d + 0.5 * n + 0.25 * w
  def wellName(w: Int): String = s"W$w"

  /** Summary: FOPR then the other field and well vectors, every 8 days. */
  val vectors: Seq[String] = Seq("FOPR", "FOPT", "FWPR", "FWPT", "FGPR", "FGPT") ++
    (1 to (SumVectors - 6) / 2).flatMap(w => Seq(s"WOPR:W$w", s"WWPR:W$w"))
  def sumDay(t: Int): Int = 8 * (t + 1)
  def sumDate(t: Int): LocalDate = Gen.Start.plusDays(sumDay(t).toLong)
  def fopr(c: Int, t: Int): Double = 512 + 16 * a(c) + (t % 8) * 4
  def fopt(c: Int, t: Int): Double = (0 to t).map(u => 8 * fopr(c, u)).sum
  def sumValue(c: Int, v: Int, t: Int): Double = v match {
    case 0 => fopr(c, t)
    case 1 => fopt(c, t)
    case _ => 4 * v + a(c) + (t % 16) * 0.25
  }
  /** Observed FOPR of a "truth" case with parameter 3.5. */
  def obsFopr(t: Int): Double = 512 + 16 * 3.5 + (t % 8) * 4

  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    for (c <- 0 until Cases) {
      val base = dir.resolve(name(c)).toString
      val g = grid(c); val na = g.nactive
      g.writeEgrid(s"$base.EGRID")
      EclOut(s"$base.INIT") { w =>
        w.inte("INTEHEAD", EclOut.intehead(Nx, Ny, Nz, na, Gen.Start))
          .real("PORO", Array.tabulate(na)(i => Gen.f(poro(c, i))))
      }
      EclOut(s"$base.UNRST") { w =>
        for (s <- 0 until Steps) {
          w.inte("SEQNUM", Array(s))
            .inte("INTEHEAD", EclOut.intehead(Nx, Ny, Nz, na, rstDate(s)))
            .real("PRESSURE", Array.tabulate(na)(i => Gen.f(pressure(c, s, i))))
            .real("SWAT", Array.fill(na)(Gen.f(swat(s))))
        }
      }
      EclOut(s"$base.RFT") { w =>
        for (d <- 0 until RftDates; wl <- 1 to RftWells) {
          val dt = rftDate(d)
          w.real("TIME", Array(Gen.f((dt.toEpochDay - Gen.Start.toEpochDay).toDouble)))
            .inte("DATE", Array(dt.getDayOfMonth, dt.getMonthValue, dt.getYear))
            .char("WELLETC", Array("  DAYS", wellName(wl), "", " METRES", "  BARSA"))
            .inte("CONIPOS", Array.fill(RftConns)(wl))
            .real("DEPTH", Array.tabulate(RftConns)(n => Gen.f(rftDepth(wl, n))))
            .real("PRESSURE", Array.tabulate(RftConns)(n => Gen.f(rftPressure(c, wl, d, n))))
            .real("SWAT", Array.fill(RftConns)(0.5f))
        }
      }
      val all = "TIME" +: vectors
      EclOut(s"$base.SMSPEC") { w =>
        w.inte("DIMENS", Array(all.length, Nx, Ny, Nz, 0, -1))
          .char("KEYWORDS", all.map(_.split(":")(0)).toArray)
          .char("WGNAMES", all.map(v => v.split(":").lift(1).getOrElse(":+:+:+:+")).toArray)
          .inte("NUMS", Array.fill(all.length)(0))
          .char("UNITS", all.map(v => if (v == "TIME") "DAYS" else "SM3").toArray)
          .inte("STARTDAT", Array(1, 1, 2020, 0, 0, 0))
      }
      EclOut(s"$base.UNSMRY") { w =>
        for (t <- 0 until SumSteps) {
          w.inte("SEQHDR", Array(t)).inte("MINISTEP", Array(t))
            .real("PARAMS", (Gen.f(sumDay(t).toDouble) +:
              vectors.indices.map(v => Gen.f(sumValue(c, v, t)))).toArray)
        }
      }
    }
  }

  /** Payloads of each kind a full read of one case could decode: UNRST
    * cell vectors per step, RFT data vectors per report, UNSMRY PARAMS
    * records. */
  def payloadsPerCase(kind: String): Long = kind match {
    case "unrst" => Steps * 2L
    case "rft" => RftDates * RftWells * 3L
    case "unsmry" => SumSteps.toLong
    case _ => 0L
  }
}

object Ensemble {
  val Cases = 32
  val Nx = 16; val Ny = 16; val Nz = 6
  val Steps = 8
  val RftWells = 5; val RftDates = 4; val RftConns = 6
  val SumSteps = 90; val SumVectors = 16

  def apply(seed: Long): Ensemble = {
    val g = Gen.rng(seed, 200)
    Ensemble(IndexedSeq.fill(Cases)(g.nextInt(64) / 8.0))
  }
}

/** Documents for `dedup-verify`: a fixed pool shaped like the sf0.1
  * `documents` table (30-word vocabulary, 10–100 tokens, 5 % exact copies
  * of an earlier document with a trailing "dup" token), from which the
  * seed picks the subset and its row order. */
object Docs {
  val PoolSize = 5000
  val Vocab: Array[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part " +
    "fast row the agg key query a scan batch").split(" ")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  lazy val pool: Array[Doc] = {
    val g = Gen.rng(0, 300)
    val texts = new Array[String](PoolSize)
    Array.tabulate(PoolSize) { i =>
      texts(i) =
        if (i > 0 && g.nextInt(20) == 0) texts(g.nextInt(i)) + " dup"
        else Array.fill(10 + g.nextInt(91))(Vocab(g.nextInt(Vocab.length))).mkString(" ")
      Doc(i, texts(i), Langs(g.nextInt(Langs.length)), s"src${i % 20}")
    }
  }

  def subset(seed: Long, n: Int): Array[Doc] = {
    val g = Gen.rng(seed, 301)
    val idx = Array.range(0, PoolSize)
    for (i <- idx.length - 1 to 1 by -1) {
      val j = g.nextInt(i + 1); val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    idx.take(n).map(pool)
  }
}
