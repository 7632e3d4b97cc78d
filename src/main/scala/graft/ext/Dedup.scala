package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB-scale corpora (SURVEY.md §2.9).
  *
  * Scale design: every variant here shuffles only (key, id) pairs — a hash
  * or a band key, never the document text — so shuffle volume is
  * O(rows × key width), independent of document size. Candidate
  * verification joins are equi-joins on those keys, which AQE resolves to
  * broadcast or shuffle-hash as cardinality dictates. (`CuratePipeline`
  * does its exact-dedup step inline instead, with one text-carrying
  * `min_by` exchange — see its header for that trade.)
  */
object Dedup {

  /** Exact dedup: keep the smallest id per content hash. One shuffle on the
    * 60-bit text hash. Returns `(<idCol> = survivor id, group_size = copies
    * sharing the hash)` — `group_size` is public API (> 1 ⇔ duplicates). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = TextOps.hash60(col(textCol))
    df.select(col(idCol), h.as("_h"))
      .groupBy("_h").agg(min(col(idCol)).as(idCol), count(lit(1)).as("group_size"))
      .select(col(idCol), col("group_size"))
  }

  /** INCREMENTAL exact dedup against a persisted fingerprint store — the
    * continuous-ingest shape of [[exact]]: a crawl delivers batches
    * forever, and each batch must dedup against EVERYTHING already
    * accepted without rescanning the corpus. The store is a graft TABLE
    * of 60-bit content hashes (one row per accepted fingerprint), so it
    * gets snapshot history, time travel, compaction, and concurrent-
    * writer safety for free, and the per-batch cost is
    * O(batch + store-join) — never O(corpus text).
    *
    * Per batch: (1) in-batch collapse to the smallest id per hash (the
    * [[exact]] rule); (2) anti-join the store on the hash — an equi-join
    * on a single long, broadcast/shuffle-hash under AQE; (3) the novel
    * rows' fingerprints are appended to the store as ONE snapshot
    * ([[graft.table.GraftTableGenerator.appendData]] + commit through
    * the conflict-retry loop, so maintenance can race the ingest).
    * Returns the surviving NEW docs (all columns). Replaying a batch is
    * idempotent on the returned set (its hashes are already stored → all
    * rows dedup away) — the at-least-once ingest contract.
    *
    * The store schema is one `fp: bigint` column; create with
    * `create(GraftSchema.of("fp" -> LongType), Nil)`. */
  def incrementalExact(newDocs: DataFrame, textCol: String, idCol: String,
                       store: graft.table.GraftTableGenerator): DataFrame = {
    val h = TextOps.hash60(col(textCol))
    val batch = newDocs.withColumn("_h", h)
    // in-batch collapse without shuffling text: winners are decided on
    // (hash, id) alone, then a semi-join brings the full rows along —
    // AQE broadcasts the winner set when it is small
    val winners = batch.select(col("_h"), col(idCol))
      .groupBy("_h").agg(min(col(idCol)).as(idCol))
    val inBatch = batch.join(winners, Seq("_h", idCol), "left_semi")
    val seen = store.read.select(col("fp").as("_h"))
    val novel = inBatch.join(seen, Seq("_h"), "left_anti")
      .localCheckpoint() // materialize ONCE: both the return and the store
                         // append read it; lazy re-eval after the commit
                         // below would anti-join novel rows against their
                         // own just-stored fingerprints and return nothing
    if (!novel.isEmpty)
      store.commitWithRetry() { g =>
        g.appendData(novel.select(col("_h").as("fp"))); ()
      }
    novel.drop("_h")
  }

  /** Passage-level exact-substring dedup (the chunk-granular pass of
    * RefinedWeb/CCNet-style pipelines: a page survives but its boilerplate
    * chunks are removed when seen elsewhere): normalize, split into fixed
    * `k`-word chunks, dedup chunks GLOBALLY keeping the first occurrence
    * in (id, chunk_idx) order, report per-document survival as
    * `(<idCol>, n_chunks, kept_chunks)`.
    *
    * Scale design: chunk text is hashed to 60 bits BEFORE the global
    * groupBy, so shuffle width is constant regardless of chunk size (the
    * [[exact]] design, chunk-granular); survivor counts return to
    * documents by integer-decoding (bit shift, exact past 2^53) the
    * packed order key — no join back against text. Per-doc totals are a
    * pure token-count projection, so only ONE pass materializes chunk
    * strings. Two groupBy shuffles + one id equi-join. The packed key
    * `id·2^20 + idx` requires idx < 2^20 (a million chunks = 8M+ words
    * per doc) and id < 2^43; both hold for any real corpus and are
    * cheaper at 100 TB than a struct min over (id, idx).
    */
  def passages(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val tokenized = df.withColumn("_w", TextOps.tokens(col(textCol)))
    val keyed = tokenized
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, greatest(cast(ceil(size(_w) / $k.0) as int), 1) - 1)," +
          s" i -> array_join(slice(_w, i * $k + 1, $k), ' '))"))
        .as(Seq("_idx", "_chunk")))
      .select(TextOps.hash60(col("_chunk")).as("_h"),
        // packed-key preconditions enforced in-row (codegen'd compares,
        // no extra pass): a violating id/chunk-index fails loudly instead
        // of silently corrupting the min-ordinal winner across id bands
        (when(col(idCol).cast("long").between(0L, (1L << 43) - 1),
            col(idCol).cast("long"))
          .otherwise(raise_error(concat(
            lit(s"passages: $idCol out of packed range [0, 2^43): "),
            col(idCol).cast("string")))) * (1L << 20) +
          when(col("_idx") < (1 << 20), col("_idx"))
            .otherwise(raise_error(concat(
              lit("passages: chunk index exceeds 2^20 for id "),
              col(idCol).cast("string"))))).as("_ord"))
    // integer shift, not double division: packed keys above 2^53 would
    // round across id bands under float math (the oracle divides exactly)
    val kept = keyed.groupBy("_h").agg(min("_ord").as("_keep"))
      .select(shiftright(col("_keep"), 20).as(idCol))
      .groupBy(idCol).agg(count(lit(1)).as("_kept"))
    // per-doc totals come straight from the token count — no second
    // explode, no second pass over the chunk strings
    tokenized
      .select(col(idCol), greatest(ceil(size(col("_w")) / k.toDouble), lit(1))
        .cast("long").as("n_chunks"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("_kept"), lit(0L)).as("kept_chunks"))
  }

  /** MinHash + LSH near-dup candidate pairs.
    *
    * shingle(k, stride) → `numHashes` salted-minhash signature → bands of
    * `rowsPerBand` → self-join per band bucket → verify by estimated
    * Jaccard (fraction of equal signature components) ≥ `minEstJaccard`.
    * Only (band_key, id) rows shuffle; signatures re-join by id for the
    * verify step. Returns distinct (id_a < id_b, est_jaccard) pairs.
    *
    * Degenerate buckets (e.g. thousands of empty docs sharing one band
    * slice) are capped at `maxBucket` members BEFORE the in-bucket pair
    * expansion: members rank deterministically by id inside their bucket
    * and ranks > `maxBucket` are dropped, so a pathological band key costs
    * at most C(maxBucket, 2) pairs instead of an O(n²) row that OOMs a
    * task. Truncation is observable via the `lsh_bucket_cap` observe
    * metric (`dropped_members`; see `df.queryExecution.observedMetrics`).
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleK: Int = 8, stride: Int = 4,
                   numHashes: Int = 8, rowsPerBand: Int = 2,
                   minEstJaccard: Double = 0.5,
                   maxBucket: Int = 64): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // native one-pass signature (spec-proven equal to the
    // shingles→minhashSig expression pipeline and to the DuckDB oracle)
    val sigs = df
      .withColumn("_norm", TextOps.norm(col(textCol)))
      .select(col(idCol),
        call_function("minhash_sig", col("_norm"),
          lit(numHashes), lit(shingleK), lit(stride)).as("_sig"))
    // band key = the band's signature slice rendered to a compact string
    val bands = sigs.select(col(idCol), col("_sig"),
      explode(expr(
        (0 until numBands).map { b =>
          val slice = s"slice(_sig, ${b * rowsPerBand + 1}, $rowsPerBand)"
          s"concat('$b:', array_join($slice, ','))"
        }.mkString("array(", ", ", ")"))).as("_band"))
    // pairs generated INSIDE each band bucket (groupBy + in-bucket pair
    // expansion) rather than a self-join — one pass over the signature
    // pipeline and one shuffle on the band key (the window and the groupBy
    // share the hash-partitioning on _band, so the cap adds a sort, not a
    // second exchange).
    val w = Window.partitionBy("_band").orderBy(col(idCol))
    val capped = bands
      .withColumn("_rk", row_number().over(w))
      .observe("lsh_bucket_cap",
        sum(when(col("_rk") > maxBucket, 1L).otherwise(0L)).as("dropped_members"))
      .where(col("_rk") <= maxBucket)
    val members = capped
      .groupBy("_band")
      .agg(collect_list(struct(col(idCol).as("id"), col("_sig").as("sig")))
        .as("_members"))
      .where(size(col("_members")) > 1)
    val pairs = members.select(explode(expr(
      """flatten(transform(sequence(1, size(_members) - 1),
        |  i -> transform(slice(_members, i + 1, size(_members) - i),
        |    n -> struct(element_at(_members, i) as a, n as b))))""".stripMargin))
      .as("_p"))
    pairs.select(
        least(col("_p.a.id"), col("_p.b.id")).as("id_a"),
        greatest(col("_p.a.id"), col("_p.b.id")).as("id_b"),
        (expr("size(filter(zip_with(_p.a.sig, _p.b.sig, (x, y) -> x = y), v -> v))")
          / numHashes.toDouble).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** INCREMENTAL near-dup dedup against a persisted SIGNATURE store — the
    * fuzzy sibling of [[incrementalExact]], the shape a continuous crawl
    * actually needs (exact hashing misses boilerplate-edited near-copies).
    * The store is a graft table of LSH band rows
    * (`band string, sig array<bigint>, doc_id bigint` — create with that
    * 3-column schema, unpartitioned): `numBands` rows per accepted doc,
    * signatures only, never text.
    *
    * Per batch: (1) greedy in-batch collapse — a doc whose estimated
    * Jaccard vs a SMALLER-id batch doc reaches `minEstJaccard` drops
    * ([[minhashPairs]]; greedy per-pair, the usual LSH ingest rule —
    * corpus-wide components are [[clusterLabels]]' job); (2) surviving
    * docs' bands equi-join the store on the band key (signatures re-verify
    * the estimate, so an accidental band collision does not drop a doc);
    * (3) novel docs' band rows append to the store as ONE snapshot through
    * the conflict-retry loop. Returns the surviving new docs. Replay is
    * idempotent: a replayed batch's signatures match their own stored
    * bands exactly (est jaccard 1) and every row drops.
    *
    * Scale: the store join shuffles (band, sig) — ~70 bytes/row — and the
    * band key spreads uniformly (it embeds the minhash values); batch text
    * moves only in the final semi/anti-joins by id. */
  def incrementalMinhash(newDocs: DataFrame, textCol: String, idCol: String,
                         store: graft.table.GraftTableGenerator,
                         shingleK: Int = 8, stride: Int = 4,
                         numHashes: Int = 8, rowsPerBand: Int = 2,
                         minEstJaccard: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(newDocs.sparkSession)
    val numBands = numHashes / rowsPerBand
    def sigBands(df: DataFrame): DataFrame = df
      .withColumn("_norm", TextOps.norm(col(textCol)))
      .select(col(idCol),
        call_function("minhash_sig", col("_norm"),
          lit(numHashes), lit(shingleK), lit(stride)).as("_sig"))
      .select(col(idCol), col("_sig"), explode(expr(
        (0 until numBands).map { b =>
          val slice = s"slice(_sig, ${b * rowsPerBand + 1}, $rowsPerBand)"
          s"concat('$b:', array_join($slice, ','))"
        }.mkString("array(", ", ", ")"))).as("band"))
    val inBatchDrops = minhashPairs(newDocs, textCol, idCol, shingleK, stride,
      numHashes, rowsPerBand, minEstJaccard)
      .select(col("id_b").as(idCol)).distinct()
    val batchKept = newDocs.join(inBatchDrops, Seq(idCol), "left_anti")
    val bands = sigBands(batchKept)
    val matched = bands
      .join(store.read.select(col("band"), col("sig").as("_ssig")), Seq("band"))
      .where(expr("size(filter(zip_with(_sig, _ssig, (x, y) -> x = y), v -> v))")
        / numHashes.toDouble >= minEstJaccard)
      .select(col(idCol)).distinct()
    val novel = batchKept.join(matched, Seq(idCol), "left_anti")
      .localCheckpoint() // stable across the store append below (see
                         // incrementalExact — lazy re-eval would anti-join
                         // novel docs against their own stored bands)
    if (!novel.isEmpty)
      store.commitWithRetry() { g =>
        g.appendData(sigBands(novel).select(col("band"), col("_sig").as("sig"),
          col(idCol).cast("long").as("doc_id")))
        ()
      }
    novel
  }

  /** Bounded min-label propagation — connected components over near-dup
    * candidate pairs, the step that turns pairwise matches into CLUSTERS
    * so exactly one document survives per near-dup group.
    *
    * `iters` rounds of `label(n) := min(label(n), min(labels of
    * neighbors))`; round r finds every component of diameter ≤ r. Near-dup
    * clusters are star/clique shaped (every copy matches the original), so
    * small fixed `iters` converges; the 100 TB version is the SAME loop
    * run to fixpoint — O(log n) rounds with path doubling — each round one
    * equi-join + groupBy shuffle on the node id, no driver iteration over
    * data. Returns (id, lbl) where lbl = min id of the cluster.
    *
    * CONTRACT NOTE — eager, not lazy: the per-round `localCheckpoint()`
    * runs the LSH pair pipeline and each round's join at CALL time, so
    * building a query plan on top of this result executes jobs immediately
    * (the declared `dedup_minhash_cluster`/`dedup_survivors` queries are
    * eager for the same reason). localCheckpoint blocks live on executors
    * and are lost on executor failure/decommission; on a real cluster use
    * reliable `checkpoint()` against a fault-tolerant checkpoint dir for
    * the same lineage truncation with recoverable blocks.
    */
  def clusterLabels(nodes: DataFrame, pairs: DataFrame, idCol: String,
                    iters: Int): DataFrame = {
    // iterative lineage discipline: every round references labels twice
    // (join side + neighbor lookup), so without materialization the
    // upstream pair pipeline re-evaluates 2^iters times. localCheckpoint
    // (eager) pins the edge set once and each round's (id, lbl) AND
    // truncates the lineage — label state is rows × 16 bytes at any
    // corpus size. Deliberately not cache(): checkpoint blocks are
    // per-instance, so repeated runs in one session can't alias each
    // other through the plan-equality cache registry.
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .localCheckpoint()
    var labels = nodes.select(col(idCol).cast("long").as("id"),
      col(idCol).cast("long").as("lbl"))
    // convergence detection without a per-round join: labels only ever
    // DECREASE (least(...)), so the label sum is strictly monotone until
    // the fixed point — an unchanged sum proves the round changed nothing
    // and every remaining round is an identity. The sum rides the round's
    // OWN checkpoint job as an observe() metric (CollectMetrics populates
    // when localCheckpoint materializes the plan), so convergence costs
    // zero extra actions; the result is bit-identical to running all
    // `iters` rounds. decimal(38) keeps the sum exact at any corpus size.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
    // the check only runs where it can still skip work: after rounds
    // 1..iters-1 (round 1 is never compared — it changes labels in any
    // non-degenerate graph, and an uncompared no-op round is still
    // correct, just not skipped)
    var prevSum: java.math.BigDecimal = null
    var converged = false
    for (r <- 1 to iters if !converged) {
      val nbMin = edges
        .join(labels.select(col("id").as("_v"), col("lbl").as("_vlbl")),
          col("v") === col("_v"))
        .groupBy(col("u").as("id")).agg(min("_vlbl").as("_nmin"))
      val next = labels.join(nbMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("_nmin"), col("lbl"))).as("lbl"))
      if (r < iters) {
        val obsName = s"_label_sum_r$r"
        val obs = next.observe(obsName,
          sum(col("lbl").cast("decimal(38,0)")).as("ls"))
        labels = obs.localCheckpoint()
        // fallback: if the metric did not materialize, or its sum is null
        // (an empty frame observes Row(null)), take the explicit probe —
        // identical semantics, one extra bounded action. An empty label
        // set sums to null there too, and null == null reads as converged:
        // right, since there is nothing to propagate.
        val s = obs.queryExecution.observedMetrics.get(obsName)
          .flatMap(r => Option(r.getDecimal(0))).getOrElse(labelSum(labels))
        converged = s == prevSum
        prevSum = s
      } else labels = next.localCheckpoint()
    }
    labels
  }

  /** SimHash bucket histogram: docs sharing a 16-bit simhash land in one
    * bucket; near-identical docs collide. Returns (bucket_size → n_buckets). */
  def simhashBuckets(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("_toks", TextOps.tokens(col(textCol)))
      .withColumn("_hs", TextOps.tokenHashes("_toks"))
      .select(col(idCol), TextOps.simhash16("_hs").as("_sim"))
      .groupBy("_sim").agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))

  /** Exact character-n-gram Jaccard of every doc against one probe text.
    * The probe's gram set rides along as a TYPED literal array column (not
    * interpolated SQL text, so quotes or any other content in the probe
    * are inert). The per-row work is ONE native `ngram_stats` scan over
    * the normalized text (distinct-gram count + probe-intersection size in
    * a single pass, packed into a long) — no gram array is ever
    * materialized, and the probe set packs+sorts once per task instead of
    * per row. */
  def ngramJaccardVsProbe(df: DataFrame, textCol: String, idCol: String,
                          probeNorm: String, k: Int): DataFrame = {
    val probeGrams = probeNorm.sliding(k).toSeq.distinct
    val probeArr = array(probeGrams.map(lit): _*)
    val inter = col("_st").bitwiseAND(lit(0xffffffffL))
    val distinct = shiftrightunsigned(col("_st"), 32)
    df.withColumn("_norm", TextOps.norm(col(textCol)))
      .withColumn("_st", call_function("ngram_stats", col("_norm"), probeArr, lit(k)))
      // |A∪B| = |A| + |B| − |A∩B|: never materializes the union either
      .select(col(idCol),
        round(inter / (distinct + lit(probeGrams.size) - inter).cast("double"),
          4).as("jaccard"))
  }
}
