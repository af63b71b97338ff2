package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Seeded series generator for the ETL workloads (the gate-query tables
  * come from gen_tables.py). The engine only ever sees what these produce.
  *
  * `series` follows the FIXTURES §3 recipe: a 1-minute grid from
  * 2023-01-01 00:00 (naive stamps), `open = 1.10 + cumsum(N(0, 1e-4))`,
  * `high/low = open ± |N(0, 5e-5)|`, `close = open + N(0, 3e-5)`,
  * `volume ∈ [1, 500)`, and 1% of rows removed. The first and last grid rows
  * are always kept, so a repaired series spans exactly `gridRows` minutes
  * and the export row counts follow from grid arithmetic alone.
  */
object Gen {
  val Grid0: LocalDateTime = LocalDateTime.of(2023, 1, 1, 0, 0)
  private val StampFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** One generated series: the kept grid positions and their values. */
  final case class Series(minute: Array[Int], open: Array[Double],
                          high: Array[Double], low: Array[Double],
                          close: Array[Double], volume: Array[Int]) {
    def rows: Int = minute.length
    def stamp(i: Int): String = StampFmt.format(Grid0.plusMinutes(minute(i).toLong))
  }

  def series(seed: Long, gridRows: Int): Series = {
    val r = new java.util.Random(seed)
    val open = new Array[Double](gridRows)
    var level = 1.10
    for (i <- 0 until gridRows) { level += r.nextGaussian() * 1e-4; open(i) = level }
    val high = Array.tabulate(gridRows)(i => open(i) + math.abs(r.nextGaussian() * 5e-5))
    val low = Array.tabulate(gridRows)(i => open(i) - math.abs(r.nextGaussian() * 5e-5))
    val close = Array.tabulate(gridRows)(i => open(i) + r.nextGaussian() * 3e-5)
    val volume = Array.fill(gridRows)(1 + r.nextInt(499))
    val keep = Array.tabulate(gridRows)(i =>
      r.nextDouble() > 0.01 || i == 0 || i == gridRows - 1)
    val idx = (0 until gridRows).filter(keep(_)).toArray
    Series(idx, idx.map(open), idx.map(high), idx.map(low), idx.map(close),
      idx.map(volume))
  }

  /** Header CSV of one series, with its symbol on every row. */
  def writeCsv(s: Series, symbol: String, file: File): Unit = {
    val w = new BufferedWriter(new FileWriter(file), 1 << 20)
    try {
      w.write("timestamp,open,high,low,close,volume,symbol\n")
      for (i <- 0 until s.rows) {
        w.write(s"${s.stamp(i)},${s.open(i)},${s.high(i)},${s.low(i)}," +
          s"${s.close(i)},${s.volume(i)},$symbol\n")
      }
    } finally w.close()
  }
}
