package graft.perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}

/** A minimal writer for the Eclipse keyword stream (Fortran unformatted
  * records: 4-byte big-endian length markers around a 16-byte header of
  * 8-char name, element count and 4-char type, then data records of at
  * most 1000 numeric or 105 CHAR elements).
  *
  * Deliberately independent of the program's own writer, so that a fault
  * shared by the program's writer and reader cannot pass the checks.
  */
final class EclOut(path: String) extends AutoCloseable {
  private val out = new DataOutputStream(
    new BufferedOutputStream(new FileOutputStream(path), 1 << 16))

  private def header(name: String, n: Int, typ: String): Unit = {
    out.writeInt(16)
    out.writeBytes(name.padTo(8, ' ').take(8))
    out.writeInt(n)
    out.writeBytes(typ)
    out.writeInt(16)
  }

  private def records(n: Int, chunk: Int, width: Int)(put: Int => Unit): Unit = {
    var lo = 0
    while (lo < n) {
      val hi = math.min(n, lo + chunk)
      out.writeInt((hi - lo) * width)
      var i = lo
      while (i < hi) { put(i); i += 1 }
      out.writeInt((hi - lo) * width)
      lo = hi
    }
  }

  def inte(name: String, a: Array[Int]): this.type = {
    header(name, a.length, "INTE"); records(a.length, 1000, 4)(i => out.writeInt(a(i))); this
  }
  def real(name: String, a: Array[Float]): this.type = {
    header(name, a.length, "REAL"); records(a.length, 1000, 4)(i => out.writeFloat(a(i))); this
  }
  def char(name: String, a: Array[String]): this.type = {
    header(name, a.length, "CHAR")
    records(a.length, 105, 8)(i => out.writeBytes(a(i).padTo(8, ' ').take(8)))
    this
  }

  override def close(): Unit = out.close()
}

object EclOut {
  def apply(path: String)(body: EclOut => Unit): Unit = {
    val w = new EclOut(path)
    try body(w) finally w.close()
  }

  /** INTEHEAD with the slots the readers use: grid dims, active count and
    * the report date. */
  def intehead(nx: Int, ny: Int, nz: Int, nactive: Int,
      date: java.time.LocalDate): Array[Int] = {
    val h = new Array[Int](95)
    h(8) = nx; h(9) = ny; h(10) = nz; h(11) = nactive
    h(64) = date.getDayOfMonth; h(65) = date.getMonthValue; h(66) = date.getYear
    h
  }
}
