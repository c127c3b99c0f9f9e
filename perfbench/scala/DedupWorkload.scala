package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{CacheScope, Dedup}

/** The training-data path (`corpus_dedup`): the near-duplicate pipeline
  * over a document corpus, written out as the surviving corpus. */
object DedupWorkload {
  /** Stage counts of one pipeline run, and the removed ids with the
    * component root each was folded into. */
  final case class Counts(docs: Long, candidates: Long, verified: Long,
                          removed: Seq[(Long, Long)])

  /** signatures → LSH candidate pairs → exact Jaccard verify →
    * connected components → anti-join apply, each stage materialized
    * once so its time is its own; returns the removed ids too. */
  def pipeline(ctx: Ctx, docs: DataFrame, out: String): Counts = {
    val t = ctx.tracer
    def pin(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }
    val (sigs, nDocs) = t.sparkOp("signatures")(pin(Dedup.signatures(docs, "id", "text")))
    val (pairs, nCand) = t.sparkOp("lsh_pairs")(pin(Dedup.minhashLshSigs(sigs)))
    val (verified, nVer) = t.sparkOp("verify")(pin(Dedup.jaccardVerifySigs(pairs, sigs, 0.5)))
    val (removed, _) = t.sparkOp("components")(pin(
      Dedup.components(verified, sigs.select("id"), "id")
        .filter(col("is_dup")).select("id", "comp")))
    t.sparkOp("apply")(
      docs.join(removed, Seq("id"), "left_anti").write.mode("overwrite").parquet(out))
    val removedIds = removed.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    Seq(removed, verified, pairs, sigs).foreach(_.unpersist(true))
    CacheScope.releaseAll()
    if (t.on) {
      ctx.sample("ops.candidate_pairs", nCand)
      ctx.sample("ops.verified_pairs", nVer)
    }
    Counts(nDocs, nCand, nVer, removedIds)
  }

  def run(ctx: Ctx): Outcome = {
    val path = s"${ctx.in}/corpus.parquet"
    val out = s"${ctx.work}/dedup_out"
    val nDocs = Json.read(s"${ctx.in}/corpus.json").get("docs").asLong
    // warm-up on a tenth of the corpus: same plans, a fraction of the work
    val setup = (0 until 3).map { _ =>
      ctx.timed(pipeline(ctx, ctx.spark.read.parquet(path).filter(col("id") < nDocs / 10),
        s"${ctx.work}/warmup_out"))._2
    }
    val counts = scala.collection.mutable.ArrayBuffer.empty[Counts]
    val reps = ctx.loop(ctx.seconds, 3)(_ => counts += pipeline(ctx, ctx.spark.read.parquet(path), out))
    Json.write(s"${ctx.work}/records.json", Map(
      "output" -> out,
      "runs" -> counts.map(c => Map("docs" -> c.docs, "candidates" -> c.candidates,
        "verified" -> c.verified, "removed" -> c.removed.size)),
      "removed" -> counts.last.removed.sorted.map { case (i, c) => Seq(i, c) }))
    Outcome(setup, 0.0, nDocs.toDouble * reps.size, reps.sum, reps)
  }
}
