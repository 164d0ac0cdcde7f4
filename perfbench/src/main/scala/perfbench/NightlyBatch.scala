package perfbench

import java.nio.file.Path

/** nightly_batch: repeated passes of the batch side, one op per call: the
  * per-city stage chain ([[CityBatch]]), then the corpus operators
  * ([[CorpusCuration]]). The chain is the paper's product, a driver-bound
  * run of many small actions; the corpus operators are bound by tasks,
  * shuffles and iterative staging. One workload holds both so that a full
  * check, which starts a fresh JVM and Spark session for every run, fits
  * its time budget. */
final class NightlyBatch(ctx: Ctx) extends Workload {
  private val city = new CityBatch(ctx)
  private val corpus = new CorpusCuration(ctx)

  def prepare(d: Path): Unit =
    Parallel.run(() => city.prepare(d.resolve("city")), () => corpus.prepare(d.resolve("corpus")))

  def op(i: Int): Op = {
    val k = i % (city.size + corpus.size)
    val o = if (k < city.size) city.op(k) else corpus.op(k - city.size)
    o.copy(pass = "batch_pass", endsPass = k == city.size + corpus.size - 1)
  }

  override def layerReadings(): Map[String, Double] = city.layerReadings()
  override def notes: Seq[String] = city.notes ++ corpus.notes
  override def passIsOp: Boolean = true
  def refPassS: Double = 10.0
  def finish(): Int = 0
}
