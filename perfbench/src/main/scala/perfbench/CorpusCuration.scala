package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.ops.{Retrieval, TextAnalysis, TextDedup}

/** The corpus operators of [[NightlyBatch]] over a seeded `documents`
  * table with planted near-duplicates. Each operator's result ends in a
  * `noop` write whose digest must match the first pass. One op is one
  * operator call. */
final class CorpusCuration(ctx: Ctx) {
  import ctx.{seed, spark, tr}

  /** Originals; the near-duplicate variants make it about 2.5× as many docs. */
  val NBase = 300L

  private var dir = ""
  private val digests = new DigestBook("corpus", seed)

  private val ops: Seq[(String, String => DataFrame)] = Seq(
    "minhash" -> (d => TextDedup.ddMinhashLsh(spark, d)),
    "dup_clusters" -> (d => TextDedup.ddDupClusters(spark, d)),
    "ngram_jaccard" -> (d => TextDedup.ddNgramJaccardDfcapVol(spark, d)),
    "bm25" -> (d => Retrieval.tsBm25Topk(spark, d)),
    "bigram" -> (d => TextAnalysis.taBigramLogprob(spark, d)))

  def prepare(d: Path): Unit = {
    Files.createDirectories(d)
    dir = d.toString
    Gen.write(Gen.documents(spark, seed, NBase), s"$dir/documents.parquet")
    digests.reset()
  }

  def size: Int = ops.size

  /** Operator `i`. */
  def op(i: Int): Op = {
    val (name, run) = ops(i)
    val (rows, mism) = call(name, run)
    Op(name, rows, mism)
  }

  /** One operator call ending in a checked `noop` write. */
  private def call(name: String, run: String => DataFrame): (Long, Int) = {
    val (res, ms) = Stats.timedMs(tr.call("ops", name) {
      val r = Digest.writeNoop(run(dir), name)
      (r.rows, digests.check(name, r.digest))
    })
    tr.sample(s"ops.$name.exec_ms", ms)
    tr.sample(s"ops.$name.persisted_rdds_after", spark.sparkContext.getPersistentRDDs.size)
    res
  }

  def notes: Seq[String] = digests.notes
}
