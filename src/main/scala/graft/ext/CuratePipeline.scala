package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed flagship pipeline a training-data run executes end to end:
  * cheap quality gate → exact dedup → MinHash-LSH near-dup collapse →
  * benchmark decontamination → token-window chunking → deterministic
  * train/val/test split. Every stage is one of the library's individually
  * oracled operators; the composition itself is oracled end to end (key
  * `curate_corpus` mirrors all six stages in one chained-CTE SQL).
  *
  * Scale shape: the quality gate is a per-row scan, near-dup dedup
  * shuffles only (id, signature) rows, decontamination probes a broadcast
  * hashed gram set, and chunking/splitting are shuffle-free projections.
  * Two exchanges carry document text: the final chunk emission, and exact
  * dedup's `min_by(struct(id, text))` groupBy, which ships at most one
  * (id, text) candidate per distinct hash per map partition. That one text
  * exchange is the trade for running the quality gate once: the id-only
  * shape (`Dedup.exact`, then a join back for the text) re-executed the
  * gate on the join side and shuffled the text through the join anyway.
  */
object CuratePipeline {

  /** Run the full curation pipeline over `corpus(idCol, textCol)` against
    * the held-out `bench` set. Returns the chunk-level training frame
    * `(idCol, chunk_idx, chunk_id, n_tokens, chunk_text, split)`.
    *
    * Stage order is the standard one: the cheap per-row gate first (drop
    * junk before paying any shuffle), exact before fuzzy dedup (hash
    * groups are cheaper than signatures), decontamination after dedup
    * (fewer docs to probe), chunking last (never chunk what you'll drop).
    */
  def curate(corpus: DataFrame, bench: DataFrame,
             idCol: String, textCol: String,
             minQuality: Double = 0.7, maxContam: Double = 0.2,
             chunkTokens: Int = 32, overlap: Int = 8,
             bands: Seq[(String, Int)] =
               Seq(("train", 80), ("val", 90), ("test", 100))): DataFrame = {
    // 1. quality gate: per-row heuristics, no shuffle
    val q = corpus
      .withColumn("_toks", TextOps.tokens(col(textCol)))
      .where(TextOps.qualityScore(col(textCol), "_toks") >= minQuality)
      .select(col(idCol), col(textCol))
    // 2. exact dedup: keep the min-id survivor of every identical text,
    // picked in ONE pass with min_by over the content-hash groups — the
    // id-set + join-back formulation (Dedup.exact ∘ join) re-executed the
    // whole quality-gate subtree on the join side and shuffled the text a
    // second time through the join. Here the quality scan runs once and
    // the groupBy exchange carries one partially-aggregated candidate
    // (id, text) row per distinct hash per map partition (map-side
    // min_by dedups copies before the wire). Same survivor set: min id
    // per hash60 group, texts identical within a group by construction.
    // Stage boundaries materialize (eager localCheckpoint): the surviving
    // frame feeds three downstream consumers (LSH signatures, the label
    // join, the survivor join) and without a cut the whole quality+dedup
    // subtree re-executes per consumer — at cluster scale this handoff is
    // a persisted table between pipeline stages, same shape.
    val ex = q
      .select(col(idCol), col(textCol), TextOps.hash60(col(textCol)).as("_h"))
      .groupBy("_h")
      .agg(min_by(struct(col(idCol), col(textCol)), col(idCol)).as("_w"))
      .select(col(s"_w.$idCol").as(idCol), col(s"_w.$textCol").as(textCol))
      .localCheckpoint()
    // 3. near-dup collapse: LSH pairs → bounded label propagation → keep
    //    each cluster's min-id representative
    val pairs = Dedup.minhashPairs(ex, textCol, idCol)
    val labels = Dedup.clusterLabels(ex.select(idCol), pairs, idCol, iters = 3)
    val nd = ex.join(
      labels.where(col("lbl") === col("id")).select(col("id").as(idCol)),
      Seq(idCol)).localCheckpoint()
    // 4. decontamination: drop docs sharing too many word 3-grams with the
    //    benchmark (threshold on the rounded ratio ngramOverlap emits)
    val cleanIds = Contam.ngramOverlap(nd, bench, textCol, idCol, n = 3)
      .where(col("contam") < maxContam).select(idCol)
    val clean = nd.join(cleanIds, Seq(idCol))
    // 5. chunk into model-ready windows  6. row-stable split on chunk id
    Curation.hashSplit(
      Curation.chunkByTokens(clean, idCol, textCol, chunkTokens, overlap),
      "chunk_id", bands)
  }
}
