package graft

import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Similarity}

/** Behavioral tests for the LLM-pipeline operators: the declared queries
  * prove Spark↔DuckDB equivalence; these prove the operators actually DO
  * the thing (find the planted duplicates, rank the right neighbors).
  */
class ExtSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")

  test("dedup_exact finds every planted exact duplicate, keeps smallest id") {
    val base = docs.select(col("doc_id"), col("text"))
    val corpus = base.unionByName(base.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val planted = base.where(col("doc_id") % 10 === 0).count()
    val survivors = Dedup.exact(corpus, "text", "doc_id")
    assert(survivors.count() == base.count()) // every dup collapsed
    assert(survivors.where(col("group_size") > 1).count() == planted)
    // kept ids are the originals, never the shifted copies
    assert(survivors.where(col("doc_id") >= 1000000L).count() == 0)
  }

  test("incremental exact dedup: each batch dedups against the persisted fingerprint store") {
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("fp-store-wh").toString
    val store = new graft.table.GraftTableGenerator(spark, wh, "fp_store")
    store.create(graft.schema.GraftSchema.of("fp" -> LongType), Nil)
    val base = docs.select(col("doc_id"), col("text"))
    // batch 1: docs 0..49 (all novel) — plus an in-batch copy of doc 0
    // under a larger id, which must collapse to the original
    val b1 = base.where(col("doc_id") < 50)
      .unionByName(base.where(col("doc_id") === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val out1 = graft.ext.Dedup.incrementalExact(b1, "text", "doc_id", store)
    assert(out1.count() == 50)
    assert(out1.where(col("doc_id") >= 1000000L).count() == 0)
    // batch 2: copies of stored docs 0..9 (shifted ids) + novel 50..79 —
    // only the novel rows survive the store anti-join
    val b2 = base.where(col("doc_id") >= 50 && col("doc_id") < 80)
      .unionByName(base.where(col("doc_id") < 10)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val out2 = graft.ext.Dedup.incrementalExact(b2, "text", "doc_id", store)
    assert(out2.count() == 30)
    assert(out2.agg(min("doc_id"), max("doc_id")).head() ==
      org.apache.spark.sql.Row(50L, 79L))
    // replay of batch 2 is idempotent: everything already stored
    assert(graft.ext.Dedup.incrementalExact(b2, "text", "doc_id", store).count() == 0)
    // the store is a real graft table: one snapshot per novel batch,
    // 80 fingerprints live, and time travel sees the batch-1 state
    val st = graft.meta.SnapshotLog(store.tableDir.toString).load()
    assert(st.snapshots.size == 2) // replay appended nothing
    assert(store.read.count() == 80)
    assert(graft.read.MorReader.readAt(spark, store.tableDir.toString, 1L).count() == 50)
  }

  test("incremental minhash dedup: near-dups of stored docs drop, novel docs persist bands") {
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("mh-store-wh").toString
    val store = new graft.table.GraftTableGenerator(spark, wh, "mh_store")
    store.create(graft.schema.GraftSchema.of(
      "band" -> StringType, "sig" -> ArrayType(LongType), "doc_id" -> LongType), Nil)
    val base = docs.select(col("doc_id"), col("text"))
    // the corpus carries PLANTED near-dups — pick 60 ids verified mutually
    // clean so batch outcomes are exact
    val paired = graft.ext.Dedup.minhashPairs(
        base.where(col("doc_id") < 150), "text", "doc_id")
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val clean = (0L until 150L).filterNot(paired).take(60)
    assert(clean.size == 60, s"only ${clean.size} clean ids below 150")
    val ids1 = clean.take(40); val ids2 = clean.drop(40)
    // batch 1: 40 clean docs + one in-batch exact copy (greedy collapse)
    val b1 = base.where(col("doc_id").isin(ids1: _*))
      .unionByName(base.where(col("doc_id") === ids1.head)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
    val out1 = graft.ext.Dedup.incrementalMinhash(b1, "text", "doc_id", store)
    assert(out1.count() == 40)
    assert(out1.where(col("doc_id") >= 500000L).count() == 0)
    // batch 2: exact copies of stored docs (sig-identical → est jaccard 1)
    // + 20 clean novel docs — only the novel survive
    val b2 = base.where(col("doc_id").isin(ids2: _*))
      .unionByName(base.where(col("doc_id").isin(ids1.take(8): _*))
        .select((col("doc_id") + 600000L).as("doc_id"), col("text")))
    val out2 = graft.ext.Dedup.incrementalMinhash(b2, "text", "doc_id", store)
    assert(out2.collect().map(_.getLong(0)).toSet == ids2.toSet)
    // replay is idempotent
    assert(graft.ext.Dedup.incrementalMinhash(b2, "text", "doc_id", store).count() == 0)
    // the store holds numBands (=4) rows per accepted doc, two snapshots
    assert(store.read.count() == 60 * 4)
    assert(graft.meta.SnapshotLog(store.tableDir.toString).load().snapshots.size == 2)
  }

  test("passage dedup: duplicated docs keep zero chunks, originals keep theirs") {
    val base = docs.select(col("doc_id"), col("text"))
    val corpus = base.unionByName(base.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val out = Dedup.passages(corpus, "text", "doc_id", 8).cache()
    // every chunk of a shifted copy already appeared in the original
    assert(out.where(col("doc_id") >= 1000000L && col("kept_chunks") > 0).count() == 0)
    // chunk accounting: kept <= total everywhere, one row per doc
    assert(out.where(col("kept_chunks") > col("n_chunks")).count() == 0)
    assert(out.count() == corpus.count())
    // global conservation: kept chunks == distinct chunk count
    val totalKept = out.agg(sum("kept_chunks")).head().getLong(0)
    val distinctChunks = corpus
      .withColumn("_w", graft.ext.TextOps.tokens(col("text")))
      .select(explode(expr(
        "transform(sequence(0, greatest(cast(ceil(size(_w) / 8.0) as int), 1) - 1)," +
          " i -> array_join(slice(_w, i * 8 + 1, 8), ' '))")).as("c"))
      .distinct().count()
    assert(totalKept == distinctChunks)
    out.unpersist()
  }

  test("chunkByTokens: full coverage, exact overlap, stable ids, count formula") {
    val size = 32; val overlap = 8; val stride = size - overlap
    val chunks = Curation.chunkByTokens(docs, "doc_id", "text", size, overlap)
      .localCheckpoint()
    val lens = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.size(
        graft.ext.TextOps.tokens(col("text"))).as("L"))

    // chunk-count formula: 1 + ceil(max(L - size, 0) / stride), verified
    // per doc against the emitted max index
    val got = chunks.groupBy("doc_id")
      .agg(max("chunk_idx").as("max_idx"), count(lit(1)).as("nc"))
      .join(lens, "doc_id")
    assert(got.where(col("nc") =!= col("max_idx") + 1).count() == 0)
    assert(got.where(col("nc") =!=
      (lit(1) + greatest(lit(0),
        expr(s"(L - $size + $stride - 1) div $stride")))).count() == 0)

    // coverage: per-doc chunk tokens, deoverlapped, reassemble the exact
    // normalized token stream (first chunk whole, later chunks minus the
    // `overlap`-token prefix) — no token lost, none duplicated
    val reassembled = chunks
      .withColumn("_part", when(col("chunk_idx") === 0, col("chunk_text"))
        .otherwise(expr(s"array_join(slice(split(chunk_text, ' '), ${overlap + 1}, $size), ' ')")))
      .groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(chunk_idx, _part)))," +
        " p -> p._part), ' ')").as("rebuilt"))
    val orig = docs.select(col("doc_id"),
      graft.ext.TextOps.norm(col("text")).as("norm"))
    assert(reassembled.join(orig, "doc_id")
      .where(col("rebuilt") =!= col("norm")).count() == 0)

    // consecutive chunks share exactly `overlap` tokens (except a short tail)
    val pairs = chunks.alias("a").join(chunks.alias("b"),
      col("a.doc_id") === col("b.doc_id") &&
        col("a.chunk_idx") + 1 === col("b.chunk_idx"))
      .select(col("a.chunk_text").as("ta"), col("b.chunk_text").as("tb"),
        col("b.n_tokens").as("nb"))
    assert(pairs.where(
      expr(s"slice(split(ta, ' '), $stride + 1, $overlap)") =!=
        expr(s"slice(split(tb, ' '), 1, least(nb, $overlap))")).count() == 0)

    // ids are stable strings "<doc>#<idx>"
    assert(chunks.where(col("chunk_id") =!=
      concat(col("doc_id").cast("string"), lit("#"),
        col("chunk_idx").cast("string"))).count() == 0)
  }

  test("curate pipeline: junk fails the gate, copies collapse, contaminated docs drop") {
    import graft.ext.{Contam, CuratePipeline}
    val base = docs.where(col("doc_id") % 50 =!= 0).select(col("doc_id"), col("text"))
    val corpus = base
      .unionByName(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(base.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zz qq xx")).as("text")))
      .unionByName(base.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          substring(col("text"), 1, 20).as("text")))
    val bench = docs.where(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
    val out = CuratePipeline.curate(corpus, bench, "doc_id", "text").localCheckpoint()

    // every planted synthetic row is gone: junk (+3M) failed the quality
    // gate, exact copies (+1M) collapsed onto their originals, near copies
    // (+2M) collapsed through LSH — only base docs emit chunks
    assert(out.where(col("doc_id") >= 1000000L).count() == 0)

    // independently-computed contaminated base docs never surface
    val contaminated = Contam.ngramOverlap(base, bench, "text", "doc_id", 3)
      .where(col("contam") >= 0.2).select("doc_id")
    assert(out.join(contaminated, Seq("doc_id")).count() == 0)

    // chunk shape: bounded windows, all three splits present and nothing else
    assert(out.where(col("n_tokens") < 1 || col("n_tokens") > 32).count() == 0)
    val splits = out.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))

    // survivors are exactly: base docs minus the corpus's own LSH near-dup
    // collapses (the sf0.001 corpus has real near-dups — computed
    // independently here over base alone) minus the contaminated set
    val basePairs = Dedup.minhashPairs(base, "text", "doc_id")
    val baseLbl = Dedup.clusterLabels(base.select("doc_id"), basePairs, "doc_id", 3)
    val baseSurvivors = baseLbl.where(col("lbl") === col("id"))
      .select(col("id").as("doc_id"))
    val expected = baseSurvivors.join(contaminated, Seq("doc_id"), "left_anti")
    assert(out.select("doc_id").distinct()
      .join(expected, Seq("doc_id"), "left_anti").count() == 0)
    assert(expected.join(out.select("doc_id").distinct(),
      Seq("doc_id"), "left_anti").count() == 0)
  }

  test("mixWeights: weighted token mass lands each source exactly on its target share") {
    val targets = ((0 until 5).map(i => s"src$i" -> 0.1) ++
      (5 until 20).map(i => s"src$i" -> 0.5 / 15)).toMap
    val w = Curation.mixWeights(docs, "text", "source", targets)
    val rows = w.collect().map(r => (r.getString(0), r.getAs[Long]("tokens"),
      r.getAs[Double]("weight"))).toSeq
    val total = rows.map(_._2).sum.toDouble
    rows.foreach { case (src, toks, weight) =>
      // weight·tokens / total == target share, by construction
      assert(math.abs(weight * toks / total - targets(src)) < 1e-9,
        s"$src off target: ${weight * toks / total} vs ${targets(src)}")
    }
    // a source absent from the target map is excluded, not silently kept
    val w2 = Curation.mixWeights(docs, "text", "source", targets - "src0")
    assert(w2.where(col("source") === "src0").head().getAs[Double]("weight") == 0.0)
  }

  test("minhash LSH recovers planted near-duplicates with high recall") {
    val base = docs.select(col("doc_id"), col("text"))
    val perturbed = base.where(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zz qq xx")).as("text"))
    val nPlanted = perturbed.count()
    val pairs = Dedup.minhashPairs(base.unionByName(perturbed), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = pairs.count { case (a, b) => b == a + 1000000L }
    assert(found >= (nPlanted * 0.8).toInt,
      s"recall too low: $found of $nPlanted planted pairs")
  }

  test("minhash LSH caps degenerate band buckets (1000 identical docs)") {
    import spark.implicits._
    // all 1000 docs are identical -> every band bucket holds all 1000
    // members; uncapped expansion would build 4 rows of ~500k pair structs
    val corpus = (0L until 1000L).map(i => (i, "aaaa bbbb cccc dddd eeee ffff"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(corpus, "text", "doc_id", maxBucket = 64)
    val rows = pairs.collect()
    // kept members are deterministically the 64 smallest ids in every band,
    // so the distinct pair set is exactly C(64, 2)
    assert(rows.length == 64 * 63 / 2)
    assert(rows.map(_.getLong(1)).max == 63L)
    // truncation is observable: 936 dropped members in each of 4 bands
    val dropped = pairs.queryExecution.observedMetrics("lsh_bucket_cap")
      .getAs[Long]("dropped_members")
    assert(dropped == 936L * 4)
  }

  test("simhash collides planted near-duplicates into shared buckets") {
    val base = docs.select(col("doc_id"), col("text"))
    val perturbed = base.where(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zz qq xx")).as("text"))
    val hist = Dedup.simhashBuckets(base.unionByName(perturbed), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // at least half the planted copies share a bucket with their original
    val collided = hist.filterKeys(_ >= 2).map { case (sz, n) => (sz - 1) * n }.sum
    assert(collided >= perturbed.count() / 2)
  }

  test("ngram jaccard: probe doc ranks itself first with jaccard 1.0") {
    val probeNorm = docs.where(col("doc_id") === 0).head().getString(1)
      .toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    val top = Dedup.ngramJaccardVsProbe(docs, "text", "doc_id", probeNorm, 4)
      .orderBy(desc("jaccard"), col("doc_id")).limit(1).head()
    assert(top.getLong(0) == 0L && top.getDouble(1) == 1.0)
  }

  test("embedDupPairs finds planted vector copies at cosine 1.0") {
    val base = embs.select(col("vec_id"), col("embedding"))
    val corpus = base.unionByName(base.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val planted = base.where(col("vec_id") % 50 === 0).count()
    val pairs = Similarity.embedDupPairs(corpus, "embedding", "vec_id", 8, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs.count { case (a, b, c) => b == a + 1000000L && c >= 0.9999 }
    assert(exact == planted) // sign-bucket recall is 1 for exact copies
  }

  test("PQ rerank: corpus-wide shortlist equals brute force; small shortlist has recall; approx pass scans only codes") {
    val dir = java.nio.file.Files.createTempDirectory("pq-idx").toString
    Similarity.buildPqIndex(embs, "embedding", "vec_id",
      dim = 64, nSub = 8, nCode = 16, indexDir = dir)
    val q = embs.where(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)
    val brute = Similarity.topKCosine(embs, "embedding", "vec_id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

    // shortlist >= corpus: identical rows, not just identical id sets
    val exact = Similarity.queryPqRerank(embs, "embedding", "vec_id", dir,
      q, 10, shortlist = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(exact.toSeq == brute.toSeq)

    // realistic shortlist (20% of corpus): the exact top hit must survive
    // and recall beats the random-candidate baseline (codes are 8 bytes
    // per vector vs 256 — a 16-code book on near-random vectors is a
    // coarse quantizer, so the shortlist must carry the headroom)
    val narrow = Similarity.queryPqRerank(embs, "embedding", "vec_id", dir,
      q, 10, shortlist = 100)
      .collect().map(_.getLong(0)).toSet
    assert(narrow.contains(0L), "query vector itself must survive the shortlist")
    assert(narrow.intersect(brute.map(_._1).toSet).size >= 4,
      s"PQ recall too low: ${narrow.intersect(brute.map(_._1).toSet).size}/10")

    // the approximate pass plans over the index codes only — the corpus
    // parquet appears downstream solely for the shortlist re-rank join
    val shortPlan = Similarity.queryPqRerank(embs, "embedding", "vec_id", dir,
      q, 10, shortlist = 100).queryExecution.optimizedPlan.toString
    assert(shortPlan.contains("codes"), shortPlan)
  }

  test("IVF persisted index: build once, query many — query path scans ONLY index files") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    Similarity.buildIvfIndex(embs, "embedding", "vec_id", nCentroids = 16, indexDir = dir)
    val q = embs.where(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)
    val brute = Similarity.topKCosine(embs, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivfDf = Similarity.queryIvf(spark, dir, "vec_id", q, 10, nProbe = 8)
    // the query never touches the corpus parquet and never re-derives
    // centroids — every scanned file lives under the index dir
    assert(ivfDf.inputFiles.nonEmpty && ivfDf.inputFiles.forall(_.contains("ivf-idx")),
      ivfDf.inputFiles.mkString("\n"))
    val ivf = ivfDf.collect().map(_.getLong(0)).toSet
    // probe=8 of 16 cells ⇒ the cell-partitioned assignment scan is pruned
    // at the FILE level (numFiles metric of the executed scan)
    val allAssign = spark.read.parquet(s"$dir/assign").inputFiles.length
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val phys = ivfDf.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scanned = phys.collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
    assert(scanned > 0 && scanned < allAssign,
      s"no partition pruning: $scanned of $allAssign assign files scanned")
    assert(ivf.intersect(brute).size >= 5,
      s"IVF recall too low: ${ivf.intersect(brute).size}/10")
    // query vector itself must be found (it sits in a probed cell by construction)
    assert(ivf.contains(0L))
    // second query against the SAME index (different probe count) — exact
    val full = Similarity.queryIvf(spark, dir, "vec_id", q, 10, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val bruteScored = Similarity.topKCosine(embs, "embedding", "vec_id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == bruteScored) // every cell probed ⇒ exact
  }

  test("IVF incremental refresh: delta-only assignment against existing centroids") {
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("ivf-refresh-wh").toString
    val g = new graft.table.GraftTableGenerator(spark, wh, "emb_tbl")
    g.create(graft.schema.GraftSchema.of(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType)), Nil)
    g.appendData(embs.where(col("vec_id") < 400).select("vec_id", "embedding")).commit()
    val tdir = g.tableDir.toString
    val idx = java.nio.file.Files.createTempDirectory("ivf-refresh-idx").toString
    Similarity.buildIvfIndexForTable(spark, tdir, "embedding", "vec_id", 16, idx)
    assert(spark.read.parquet(s"$idx/assign").count() == 400)
    // ingest continues: 100 new vectors land in snapshot 2
    g.appendData(embs.where(col("vec_id") >= 400 && col("vec_id") < 500)
      .select("vec_id", "embedding")).commit()
    Similarity.refreshIvfIndex(spark, tdir, "embedding", "vec_id", idx)
    val assign = spark.read.parquet(s"$idx/assign")
    assert(assign.count() == 500)
    assert(assign.select("vec_id").distinct().count() == 500) // nothing re-indexed
    // the refresh's delta is appendsBetween(watermark, head): its plan
    // reads ONLY the snapshot-2 files, never the indexed history
    val snap2 = graft.meta.SnapshotLog(tdir).load().snapshots
      .find(_.id == 2L).get.dataFiles.map(_.path).toSet
    val scanned = graft.read.MorReader.appendsBetween(spark, tdir, 1L, 2L)
      .inputFiles.map(_.replaceFirst("^file:/+", "/")).toSet
    assert(scanned == snap2, s"delta planned over $scanned, want $snap2")
    // a query finds a refreshed vector: all cells probed ⇒ exact, and the
    // new vector's own direction must rank it first
    val q = embs.where(col("vec_id") === 450).head().getSeq[Float](1).map(_.toDouble)
    val hits = Similarity.queryIvf(spark, idx, "vec_id", q, 10, nProbe = 16)
      .collect().map(_.getLong(0))
    assert(hits.head == 450L, s"refreshed vector not found: ${hits.mkString(",")}")
    // watermark caught up — a second refresh is a no-op
    Similarity.refreshIvfIndex(spark, tdir, "embedding", "vec_id", idx)
    assert(spark.read.parquet(s"$idx/assign").count() == 500)
  }

  test("PQ incremental refresh: delta-only encode against the persisted codebook") {
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("pq-refresh-wh").toString
    val g = new graft.table.GraftTableGenerator(spark, wh, "emb_pq_tbl")
    g.create(graft.schema.GraftSchema.of(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType)), Nil)
    g.appendData(embs.where(col("vec_id") < 400).select("vec_id", "embedding")).commit()
    val tdir = g.tableDir.toString
    val idx = java.nio.file.Files.createTempDirectory("pq-refresh-idx").toString
    Similarity.buildPqIndexForTable(spark, tdir, "embedding", "vec_id",
      dim = 64, nSub = 8, nCode = 16, indexDir = idx)
    g.appendData(embs.where(col("vec_id") >= 400 && col("vec_id") < 500)
      .select("vec_id", "embedding")).commit()
    Similarity.refreshPqIndex(spark, tdir, "embedding", "vec_id", 64, 8, idx)
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.count() == 500)
    assert(codes.select("vec_id").distinct().count() == 500) // nothing re-encoded
    // corpus-wide shortlist over the refreshed index == brute force over
    // the LIVE table, so a query can rank a post-build vector first
    val q = embs.where(col("vec_id") === 450).head().getSeq[Float](1).map(_.toDouble)
    val exact = Similarity.queryPqRerank(g.read, "embedding", "vec_id", idx,
      q, 10, shortlist = Int.MaxValue).collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topKCosine(g.read, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(exact == brute)
    assert(exact.head == 450L)
    // watermark caught up — a second refresh is a no-op
    Similarity.refreshPqIndex(spark, tdir, "embedding", "vec_id", 64, 8, idx)
    assert(spark.read.parquet(s"$idx/codes").count() == 500)
  }

  test("IVF-PQ: exact config equals brute force; probed query prunes cell partitions and has recall") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-idx").toString
    Similarity.buildIvfPqIndex(embs, "embedding", "vec_id",
      nCentroids = 16, dim = 64, nSub = 8, nCode = 16, indexDir = dir)
    val q = embs.where(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)
    val brute = Similarity.topKCosine(embs, "embedding", "vec_id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

    // every cell probed + corpus-wide shortlist ⇒ identical rows
    val exact = Similarity.queryIvfPq(embs, "embedding", "vec_id", dir,
      q, 10, nProbe = 16, shortlist = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(exact.toSeq == brute.toSeq)

    // realistic config: half the cells probed, 100-id shortlist — the
    // query vector itself sits in a probed cell by construction and the
    // result keeps useful overlap with exact brute force
    val probedDf = Similarity.queryIvfPq(embs, "embedding", "vec_id", dir,
      q, 10, nProbe = 8, shortlist = 100)
    val probed = probedDf.collect().map(_.getLong(0)).toSet
    assert(probed.contains(0L), "query vector must be found in its own cell")
    assert(probed.intersect(brute.map(_._1).toSet).size >= 4,
      s"IVF-PQ recall too low: ${probed.intersect(brute.map(_._1).toSet).size}/10")

    // the codes scan is partition-pruned to the probed cells: fewer codes
    // files than the full cell-partitioned table (file-level numFiles
    // metric of the executed scans under the index dir)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val codesAll = spark.read.parquet(s"$dir/codes").inputFiles.length
    val codesScanned = scans(probedDf.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ivfpq-idx")))
      .map(_.metrics("numFiles").value).sum
    assert(codesScanned > 0 && codesScanned < codesAll,
      s"no cell pruning: $codesScanned of $codesAll codes files scanned")
  }

  test("IVF-PQ incremental refresh: delta-only assign+encode against persisted centroids and codebook") {
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("ivfpq-refresh-wh").toString
    val g = new graft.table.GraftTableGenerator(spark, wh, "emb_ivfpq_tbl")
    g.create(graft.schema.GraftSchema.of(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType)), Nil)
    g.appendData(embs.where(col("vec_id") < 400).select("vec_id", "embedding")).commit()
    val tdir = g.tableDir.toString
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-refresh-idx").toString
    Similarity.buildIvfPqIndexForTable(spark, tdir, "embedding", "vec_id",
      nCentroids = 16, dim = 64, nSub = 8, nCode = 16, indexDir = idx)
    assert(spark.read.parquet(s"$idx/codes").count() == 400)
    g.appendData(embs.where(col("vec_id") >= 400 && col("vec_id") < 500)
      .select("vec_id", "embedding")).commit()
    Similarity.refreshIvfPqIndex(spark, tdir, "embedding", "vec_id", 64, 8, idx)
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.count() == 500)
    assert(codes.select("vec_id").distinct().count() == 500) // nothing re-indexed
    // exact config over the refreshed index == brute force over the LIVE
    // table; the post-build vector's own direction ranks it first
    val q = embs.where(col("vec_id") === 450).head().getSeq[Float](1).map(_.toDouble)
    val exact = Similarity.queryIvfPq(g.read, "embedding", "vec_id", idx,
      q, 10, nProbe = 16, shortlist = Int.MaxValue)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topKCosine(g.read, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(exact == brute)
    assert(exact.head == 450L)
    // watermark caught up — a second refresh is a no-op
    Similarity.refreshIvfPqIndex(spark, tdir, "embedding", "vec_id", 64, 8, idx)
    assert(spark.read.parquet(s"$idx/codes").count() == 500)
  }

  test("ingest loop: batches + compaction + expiry with incremental IVF refresh; expiry past the watermark refuses") {
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("ivf-loop-wh").toString
    val g = new graft.table.GraftTableGenerator(spark, wh, "emb_loop")
    g.create(graft.schema.GraftSchema.of(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType)), Nil)
    g.appendData(embs.where(col("vec_id") < 200).select("vec_id", "embedding")).commit()
    val tdir = g.tableDir.toString
    val idx = java.nio.file.Files.createTempDirectory("ivf-loop-idx").toString
    Similarity.buildIvfIndexForTable(spark, tdir, "embedding", "vec_id", 16, idx)
    // three ingest rounds; round 2 also runs the maintenance pair — the
    // compaction is a rewrite (no re-index) and the expiry keeps the
    // watermark, so the refresh loop just keeps going
    for (round <- 1 to 3) {
      val lo = 100 + round * 100
      g.appendData(embs.where(col("vec_id") >= lo && col("vec_id") < lo + 100)
        .select("vec_id", "embedding")).commit()
      if (round == 2) { g.compact().commit(); g.expireSnapshots(keepLast = 2) }
      Similarity.refreshIvfIndex(spark, tdir, "embedding", "vec_id", idx)
    }
    val assign = spark.read.parquet(s"$idx/assign")
    assert(assign.count() == 500 && assign.select("vec_id").distinct().count() == 500)
    // the served index is exact under full probing — across all 4 batches
    val q = embs.where(col("vec_id") === 480).head().getSeq[Float](1).map(_.toDouble)
    val ivf = Similarity.queryIvf(spark, idx, "vec_id", q, 10, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.topKCosine(g.read, "embedding", "vec_id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute)
    // expiry CROSSING the watermark must refuse, not serve holes: two
    // unindexed appends, then expire so hard that the first of them folds
    // into the rebased baseline (horizon past the watermark snapshot)
    g.appendData(embs.where(col("vec_id") < 10)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))).commit()
    g.appendData(embs.where(col("vec_id") < 10)
      .select((col("vec_id") + 9500L).as("vec_id"), col("embedding"))).commit()
    g.expireSnapshots(keepLast = 1)
    val e = intercept[IllegalArgumentException](
      Similarity.refreshIvfIndex(spark, tdir, "embedding", "vec_id", idx))
    assert(e.getMessage.contains("rebuild"))
  }

  test("IVF works at nCentroids=1024 and probe=all equals brute force") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-big").toString
    // an index size the old SQL-literal centroid encoding could not reach
    Similarity.buildIvfIndex(embs, "embedding", "vec_id", nCentroids = 1024, indexDir = dir)
    val q = embs.where(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)
    val brute = Similarity.topKCosine(embs, "embedding", "vec_id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.queryIvf(spark, dir, "vec_id", q, 10, nProbe = 1024)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute) // every cell probed ⇒ exact
  }

  test("IVF zero-norm vectors get a deterministic cell — probe=all matches brute force") {
    val corpus = embs.select(col("vec_id"), col("embedding"))
      .unionByName(spark.range(1).select(lit(999999L).as("vec_id"),
        array_repeat(lit(0.0f), 64).as("embedding")))
    val dir = java.nio.file.Files.createTempDirectory("ivf-zero").toString
    Similarity.buildIvfIndex(corpus, "embedding", "vec_id", nCentroids = 8, indexDir = dir)
    // every row must be assigned a real cell (NaN similarity ⇒ -1e308, not a drop)
    assert(spark.read.parquet(s"$dir/assign").count() == corpus.count())
    val q = embs.where(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)
    val brute = Similarity.topKCosine(corpus, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.queryIvf(spark, dir, "vec_id", q, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    // identical ranking: the zero vector's cosine is NULL (try_divide, not
    // an ANSI divide-by-zero error) and sorts below every real match
    assert(full == brute && !full.contains(999999L))
  }

  test("misra_gries is a native aggregate: partial map-side phase, composes with groupBy") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val terms = docs.select(col("source"),
      explode(graft.ext.TextOps.tokens(col("text"))).as("term"))
      .where(col("term") =!= "")
    val perSource = terms.groupBy("source")
      .agg(call_function("misra_gries", col("term"), lit(1 << 16)).as("sk"))
    // the sketch shuffles SERIALIZED BUFFERS via ObjectHashAggregate with a
    // map-side partial phase — never capacity×partitions rows
    val plan = perSource.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_misra_gries"), plan)
    // slack capacity ⇒ exact per group: equals the exact per-source counts
    val fromSketch = perSource.select(col("source"), explode(col("sk")).as("e"))
      .select(col("source"), col("e.term"), col("e.cnt_lb"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = terms.groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fromSketch == exact)
  }

  test("approxFreqTerms: capacity ≥ vocab ⇒ exact; tiny capacity still finds the heavy hitter") {
    // sketch with slack capacity degrades to the exact answer
    val exact = Curation.freqTerms(docs, "text", 20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val slack = Curation.approxFreqTerms(docs, "text", 20, capacity = 1 << 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(slack == exact)
    // skewed stream under heavy eviction pressure: 5000 occurrences of one
    // term among 5000 singletons, only 8 counters per partition — the heavy
    // hitter must surface with a lower-bound estimate within the MG error
    val skew = spark.range(10000).select(
      when(col("id") % 2 === 0, lit("heavy"))
        .otherwise(concat(lit("t"), col("id"))).as("text"))
    val top = Curation.approxFreqTerms(skew, "text", 1, capacity = 8).head()
    assert(top.getString(0) == "heavy", top.toString)
    assert(top.getLong(1) <= 5000 && top.getLong(1) >= 5000 - 10000 / 8,
      s"estimate ${top.getLong(1)} outside the Misra-Gries bound")
  }

  test("clusterLabels: chains resolve transitively to the min id (k rounds, diameter k)") {
    import spark.implicits._
    val nodes = (1L to 8L).toDF("id")
    // component {1..4} as a chain, {6,7} as a pair, {5, 8} singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("id_a", "id_b")
    val lbl3 = Dedup.clusterLabels(nodes, pairs, "id", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L))
    // one round only reaches distance-1 neighbors: node 4 still sees 2
    val lbl1 = Dedup.clusterLabels(nodes, pairs, "id", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl1(4L) == 3L && lbl1(3L) == 2L && lbl1(2L) == 1L)
  }

  test("clusterLabels: empty input and edgeless input converge to identity labels") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    // empty frame: the observed label sum is Row(null) — the explicit probe
    // takes over and the empty result comes back
    val empty = Dedup.clusterLabels(Seq.empty[Long].toDF("id"), none, "id", iters = 4)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("id", "lbl"))
    // nodes without a single edge: every node is its own cluster
    val lone = Dedup.clusterLabels((1L to 5L).toDF("id"), none, "id", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lone == (1L to 5L).map(i => i -> i).toMap)
  }

  test("redactPii scrubs planted emails/phones and leaves clean text alone") {
    import spark.implicits._
    import graft.ext.TextOps
    val df = Seq(
      ("mail me at john.doe+x@sub.example.co.uk thanks", true),
      ("call +14155551234 or 88005553535 now", true),
      ("clean text with short 123 and a-b.c", false)).toDF("t", "dirty")
    val red = df.withColumn("r", TextOps.redactPii(col("t"))).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
    red.foreach { case (orig, dirty, r) =>
      assert(!r.matches(s".*${TextOps.EmailRe}.*"), r)
      assert(!"[0-9]{7,}".r.findFirstIn(r).isDefined, r)
      if (dirty) assert(r.contains("<EMAIL>") || r.contains("<PHONE>"), r)
      else assert(r == orig, r)
    }
  }

  test("int8 quantization: reconstruction error ≤ half a code step per dim") {
    val q = Similarity.quantizeInt8(embs, "embedding", "vec_id")
    val checked = q.select(
      expr("""aggregate(zip_with(_v, codes, (x, c) ->
             |  abs(cast(x as double) - (_mn + c / 255.0 * (_mx - _mn)))),
             |  cast(0.0 as double), (a, e) -> greatest(a, e))""".stripMargin)
        .as("max_err"),
      // half a code step, plus a relative epsilon: the ideal |t·255 − c| ≤ ½
      // bound can overshoot by an ulp-scale amount through the double
      // divide/multiply chain
      (((col("_mx") - col("_mn")) / 510.0) * 1.001 + lit(1e-9)).as("bound"))
    assert(checked.where(col("max_err") > col("bound")).count() == 0)
    assert(q.count() == embs.count())
  }

  test("contamination: planted benchmark copy scores 1.0, clean docs score lower") {
    import spark.implicits._
    import graft.ext.Contam
    val bench = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    // corpus: the non-benchmark docs + one verbatim copy of a benchmark doc
    val copy = bench.limit(1)
      .select(lit(9999999L).as("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text")).unionByName(copy)
    val out = Contam.ngramOverlap(corpus, bench, "text", "doc_id", 3)
    val top = out.orderBy(desc("contam"), col("doc_id")).head()
    assert(top.getAs[Long]("doc_id") == 9999999L)
    assert(top.getAs[Double]("contam") == 1.0)
    // the benchmark gram set is broadcast — never a shuffle of the corpus text
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // a short doc (< 3 tokens) is droppable, not a divide-by-zero
    val tiny = Seq((1L, "one two")).toDF("doc_id", "text")
    assert(Contam.ngramOverlap(tiny, bench, "text", "doc_id", 3).count() == 0)
  }

  test("repetition signals: dup-token ratio and top-bigram share on planted docs") {
    import spark.implicits._
    import graft.ext.TextOps
    val df = Seq((1L, "spam spam spam spam eggs"), (2L, "all words are unique here"),
        (3L, "x")).toDF("doc_id", "text")
      .withColumn("_t", TextOps.tokens(col("text")))
      .withColumn("_bg", TextOps.wordNgrams("_t", 2))
      .select(col("doc_id"), TextOps.dupTokenRatio("_t").as("dup"),
        TextOps.topNgramShare("_bg").as("topbg"))
    val m = df.collect().map(r => r.getLong(0) ->
      (r.getDouble(1), if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toMap
    assert(m(1L) == (0.6, 0.75))      // 5 tokens 2 distinct; "spam spam" 3 of 4
    assert(m(2L) == (0.0, 0.25))      // no repeats; 4 bigrams, each share 1/4
    assert(m(3L)._1 == 0.0 && m(3L)._2 == -1.0) // 1 token: no bigrams → NULL
  }

  test("trained PQ codebook: Lloyd rounds strictly beat the hash-sample codebook") {
    val errUntrained = Similarity.pqReconError(
      Similarity.pqEncode(embs, "embedding", "vec_id", 64, 8, 16),
      embs, "embedding", "vec_id", 64, 8, 16)
      .agg(avg(col("_err"))).head().getDouble(0)
    val cb = Similarity.pqTrainCodebook(embs, "embedding", "vec_id", 64, 8, 16, iters = 3)
    val errTrained = Similarity.pqReconError(
      Similarity.pqEncode(embs, "embedding", "vec_id", 64, 8, 16, Some(cb)),
      embs, "embedding", "vec_id", 64, 8, 16, Some(cb))
      .agg(avg(col("_err"))).head().getDouble(0)
    // same (nSub, nCode): training must strictly tighten the cells
    assert(errTrained < errUntrained,
      s"trained recon error $errTrained not below hash-sample $errUntrained")
    // training is deterministic (hash-ordered sample, mean updates)
    val cb2 = Similarity.pqTrainCodebook(embs, "embedding", "vec_id", 64, 8, 16, iters = 3)
    assert(cb.head().getSeq[scala.collection.Seq[Double]](0)
      == cb2.head().getSeq[scala.collection.Seq[Double]](0))
  }

  test("PQ: codes in range, deterministic, reconstruction beats worst-case") {
    val enc = Similarity.pqEncode(embs, "embedding", "vec_id", 64, 8, 16)
    val codes = enc.select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 1 && x <= 16)))
    // deterministic rebuild
    val codes2 = Similarity.pqEncode(embs, "embedding", "vec_id", 64, 8, 16)
      .select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.toSeq == codes2.toSeq)
    // mean squared reconstruction error per dim is below the data's own
    // per-dim second moment (i.e. quantizing to the nearest of 16 sampled
    // codewords beats quantizing everything to zero)
    val err = Similarity.pqReconError(enc, embs, "embedding", "vec_id", 64, 8, 16)
      .agg(avg(col("_err"))).head().getDouble(0)
    val e2 = embs.select(explode(col("embedding")).as("x"))
      .agg(avg(col("x") * col("x"))).head().getDouble(0)
    assert(err > 0.0 && err < e2, s"recon err $err vs second moment $e2")
  }

  test("hashSplit: disjoint, exhaustive, row-stable under corpus changes") {
    import graft.ext.Curation
    val bands = Seq(("train", 80), ("val", 90), ("test", 100))
    val split = Curation.hashSplit(docs, "doc_id", bands)
    // exhaustive + disjoint: one split per doc
    assert(split.count() == docs.count())
    val per = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per.keySet == Set("train", "val", "test"))
    val n = docs.count().toDouble
    assert(per("train") / n > 0.7 && per("train") / n < 0.9)
    // misconfigured bands fail fast instead of shipping an empty split
    intercept[IllegalArgumentException] {
      Curation.hashSplit(docs, "doc_id", Seq(("a", 80), ("b", 80), ("c", 100)))
    }
    intercept[IllegalArgumentException] {
      Curation.hashSplit(docs, "doc_id", Seq(("a", -5), ("b", 100)))
    }
    // row-stability: dropping half the corpus never moves an assignment
    val subset = Curation.hashSplit(docs.where(col("doc_id") % 2 === 0), "doc_id", bands)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    subset.foreach { case (id, s) => assert(full(id) == s) }
  }

  test("stratifiedSample rebalances strata deterministically") {
    import graft.ext.Curation
    val sampled = Curation.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 100), defaultPermille = 500)
    val kept = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en downsampled to ~10%, everything else ~50% (binomial tolerance)
    assert(kept("en").toDouble / totals("en") < 0.25)
    totals.filterKeys(_ != "en").foreach { case (l, t) =>
      val r = kept.getOrElse(l, 0L).toDouble / t
      assert(r > 0.3 && r < 0.7, s"$l rate $r")
    }
    // deterministic: second evaluation keeps the identical id set
    val a = sampled.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Curation.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 100), 500).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("bucketedRunningTotal == single-partition window cumsum (exact)") {
    import org.apache.spark.sql.expressions.Window
    val vals = spark.range(5000).select(col("id"),
      (pmod(xxhash64(col("id")), lit(97L)) + 1).as("v"))
    val fast = graft.operators.Ops.bucketedRunningTotal(
        vals, col("id"), col("v"), bucketSize = 256L, totalName = "cum")
      .select("id", "cum")
    val ref = vals.withColumn("cum_ref",
      sum(col("v")).over(Window.orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(fast.join(ref, "id").where(col("cum") =!= col("cum_ref")).count() == 0)
  }

  test("packByTokenBudget: bins are contiguous doc ranges that meet the budget") {
    import graft.ext.Curation
    val bins = Curation.packByTokenBudget(docs, "text", "doc_id", budget = 2000L)
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("_toks").as("toks"),
        min("doc_id").as("lo"), max("doc_id").as("hi"), max("_toks").as("max_doc"))
      .orderBy("bin").collect()
    assert(bins.length > 1)
    // contiguous, non-overlapping doc ranges in bin order
    bins.sliding(2).foreach {
      case Array(x, y) => assert(x.getAs[Long]("hi") < y.getAs[Long]("lo"))
      case _ =>
    }
    // every bin but the last fills the budget up to one straddling doc
    bins.init.foreach { b =>
      assert(b.getAs[Long]("toks") + 1 > 2000L - b.getAs[Long]("max_doc"),
        b.toString)
    }
  }

  test("approx_percentile sketch lands within 2% of exact per group") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    def ps(aggSql: String): Map[String, Seq[Double]] =
      li.groupBy("l_returnflag").agg(expr(aggSql).as("ps"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
    val exact = ps("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
    val approx = ps("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 1000)")
    for ((flag, ex) <- exact; (a, e) <- approx(flag).zip(ex))
      assert(math.abs(a - e) / e < 0.02, s"$flag: approx $a vs exact $e")
  }

  test("approx_count_distinct sketch lands within 5% of exact") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val r = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("a"),
      countDistinct(col("l_partkey")).as("e")).head()
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
  }

  test("streaming: windowed event counts match the batch events_window query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val events = graft.queries.Q.events(spark, dir)
      .select(col("_ts"), col("event_type"), col("value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))

    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sq = stream.toDF().toDF("_ts", "event_type", "value")
      .withWatermark("_ts", "1 minute")
      .groupBy(window(col("_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(events.toSeq)
      sq.processAllAvailable()
      val streamed = spark.sql("select window.start, event_type, cnt from win_agg")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.queries.Q.events(spark, dir)
        .groupBy(window(col("_ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start"), col("event_type"), col("cnt"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally sq.stop()
  }
}
