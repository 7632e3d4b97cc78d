package graftbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{CuratePipeline, TextOps}
import graft.meta.SnapshotLog
import graft.read.MorReader
import graft.schema.GraftSchema
import graft.table.GraftTableGenerator

/** Seeded corpus with planted structure. Each document has a role:
  * 0 clean, 1 exact copy of an earlier clean doc, 2 near copy (one token
  * in 30 replaced), 3 junk, 4 contaminated (its first half is a benchmark
  * passage), 5 clean but taken down by a delete. Tokens are pure functions
  * of (seed, source, position); Spark renders the text and the benchmark
  * re-derives any doc's tokens in plain Scala for the checks. */
final class Corpus(seed: Long, val shards: Int, val perShard: Int) {
  final case class Doc(id: Long, shard: Int, role: Int, src: Long, len: Int, bsrc: Long)

  val V = 4096
  val benchDocs = 64
  val vocab: Array[String] = {
    val r = new scala.util.Random(seed * 7919 + 1)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < V) seen += Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    seen.toArray
  }
  private val S1 = seed * 64 + 1
  private val S2 = seed * 64 + 2
  private val S3 = seed * 64 + 3

  val docs: IndexedSeq[Doc] = (0 until shards).flatMap { s =>
    val r = new scala.util.Random(seed * 104729 + s)
    val base = s.toLong * perShard + 1
    val clean = mutable.ArrayBuffer[Doc]()
    (0 until perShard).map { j =>
      val id = base + j
      val u = r.nextInt(100)
      val len = 60 + r.nextInt(140)
      val d =
        if (u < 8 && clean.nonEmpty) { val c = clean(r.nextInt(clean.size)); Doc(id, s, 1, c.src, c.len, 0) }
        else if (u < 15 && clean.nonEmpty) { val c = clean(r.nextInt(clean.size)); Doc(id, s, 2, c.src, c.len, 0) }
        else if (u < 21) Doc(id, s, 3, id, 0, 0)
        else if (u < 26) Doc(id, s, 4, id, len, 1 + r.nextInt(benchDocs))
        else if (u < 30) Doc(id, s, 5, id, len, 0)
        else Doc(id, s, 0, id, len, 0)
      if (d.role == 0) clean += d
      d
    }
  }
  val byId: Map[Long, Doc] = docs.map(d => d.id -> d).toMap

  private def h(salt: Long, a: Long, i: Long): Long =
    XXH64.hashLong(i, XXH64.hashLong(a, XXH64.hashLong(salt, 42L)))
  private def tok(src: Long, i: Int): String = vocab(Math.floorMod(h(S1, src, i), V.toLong).toInt)

  /** The doc's tokens as the pipeline's tokenizer sees them. */
  def tokens(d: Doc): IndexedSeq[String] = (0 until d.len).map { i =>
    if (d.role == 4 && i < d.len / 2) tok(-d.bsrc, i)
    else if (d.role == 2 && Math.floorMod(h(S2, d.id, i), 30L) == 0)
      vocab(Math.floorMod(h(S3, d.id, i), V.toLong).toInt)
    else tok(d.src, i)
  }

  /** Columns (id, shard, text) of the given docs, rendered on the executors. */
  def frame(spark: org.apache.spark.sql.SparkSession, ds: Seq[Doc]): DataFrame = {
    import spark.implicits._
    val vocabCol = typedLit(vocab.toSeq)
    def pick(salt: Long, a: Column, i: Column): Column =
      element_at(vocabCol, (pmod(xxhash64(lit(salt), a, i.cast("long")), lit(V.toLong)) + 1).cast("int"))
    spark.sparkContext.parallelize(ds.map(d => (d.id, d.shard.toLong, d.role, d.src, d.len, d.bsrc)), 8)
      .toDF("id", "shard", "role", "src", "len", "bsrc")
      .select(col("id"), col("shard"),
        when(col("role") === 3, concat(lit("!!! ?? ### "), col("id").cast("string"), lit(" $$ ...")))
          .otherwise(concat_ws(" ", transform(sequence(lit(0), col("len") - 1), i =>
            when(col("role") === 4 && i < (col("len") / 2).cast("int"), pick(S1, -col("bsrc"), i))
              .when(col("role") === 2 && pmod(xxhash64(lit(S2), col("id"), i.cast("long")), lit(30L)) === 0,
                pick(S3, col("id"), i))
              .otherwise(pick(S1, col("src"), i))))).as("text"))
  }

  /** The held-out benchmark set (id, text). */
  def bench(spark: org.apache.spark.sql.SparkSession): DataFrame =
    frame(spark, (1 to benchDocs).map(b => Doc(-b.toLong, 0, 0, -b.toLong, 80, 0)))
      .select("id", "text")
}

/** `curate`: `CuratePipeline.curate` over one shard of a seeded corpus per
  * op, read through `MorReader` from a graft table that carries takedown
  * deletes; each op commits its chunks to an output graft table. */
final class Curate(c: Ctx) extends Workload(c) {
  private val seed = ctx.seed
  private val shards = 2
  private val perShard = if (ctx.toy) 300 else 6000
  private val ChunkTokens = 32
  private val Overlap = 8
  private val corpus = new Corpus(seed, shards, perShard)
  private val docsDir = ctx.dir.resolve("docs").toString
  private val outDir = ctx.dir.resolve("chunks").toString
  private lazy val out = new GraftTableGenerator(spark, ctx.dir.toString, "chunks", seed)
  private lazy val bench = corpus.bench(spark)
  private val splitCounts = mutable.Map[String, Long]().withDefaultValue(0L)
  private val kept = mutable.ArrayBuffer[Double]()
  private val chunks = mutable.ArrayBuffer[Double]()

  def setup(): Unit = {
    new GraftTableGenerator(spark, ctx.dir.toString, "docs", seed)
      .create(GraftSchema.of("id" -> LongType, "shard" -> LongType, "text" -> StringType),
        Seq("shard"))
      .appendBulk(corpus.frame(spark, corpus.docs), 2).commit()
      .positionalDelete(col("id").isin(corpus.docs.filter(_.role == 5).map(_.id): _*))
      .commit()
    out.create(GraftSchema.of("op" -> LongType, "id" -> LongType, "chunk_idx" -> LongType,
      "chunk_id" -> StringType, "n_tokens" -> LongType, "chunk_text" -> StringType,
      "split" -> StringType), Seq("split"))
  }

  def opCount(seconds: Int): Int = shards * math.max(1, math.round(seconds / 16.0).toInt)
  def warmupOps: Int = 1
  def tableDirs: Seq[java.nio.file.Path] = Seq(ctx.dir.resolve("docs"), ctx.dir.resolve("chunks"))
  def perturbations: Seq[String] =
    Seq("exact_survivor", "junk", "takedown", "contaminated", "clean", "window", "split", "readback")

  private def chunkHash = pmod(xxhash64(col("id"), col("chunk_idx"), col("n_tokens"),
    col("chunk_id"), col("chunk_text"), col("split")), lit(1000000007L))

  /** `md5prefix64(chunk_id) % 100` banded 80/10/10, recomputed without Spark. */
  private def splitOf(chunkId: String): String = {
    val hex = MessageDigest.getInstance("MD5").digest(chunkId.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    val b = java.lang.Long.parseLong(hex, 16) % 100
    if (b < 80) "train" else if (b < 90) "val" else "test"
  }

  private def nChunks(len: Int): Int = {
    val stride = ChunkTokens - Overlap
    1 + math.max(0, (len - ChunkTokens + stride - 1) / stride)
  }

  def op(i: Int, warm: Boolean): Op = Op("curate", () => {
    val shard = i % shards
    val all = Trace.span("read.plan")(MorReader.readWhere(spark, docsDir,
      Map("shard" -> Set(shard.toString))).select("id", "text"))
    // the warm-up op curates a tenth of the shard; only its read-back is checked
    val docs = if (warm) all.where(col("id") % 10 === 0) else all
    if (!warm) Harness.rowsOut(corpus.docs.count(d => d.shard == shard && d.role != 5))
    val res = Trace.span("ext.curate")(CuratePipeline.curate(docs, bench, "id", "text",
      chunkTokens = ChunkTokens, overlap = Overlap))
    val ob = Observation()
    Trace.span("ext.emit") {
      Trace.span("table.stage")(out.appendBulk(
        res.observe(ob, count(lit(1)).as("n"), sum(chunkHash).as("h"))
          .select(lit(i.toLong).as("op"), col("id"), col("chunk_idx"), col("chunk_id"),
            col("n_tokens"), col("chunk_text"), col("split")), 2))
      Trace.span("table.commit")(out.commit())
    }
    () => check(i, shard, ob, warm)
  })

  private def check(i: Int, shard: Int, ob: Observation, warm: Boolean): Seq[String] = {
    val p = ctx.perturb
    val problems = mutable.ArrayBuffer[String]()
    val back = MorReader.read(spark, outDir).where(col("op") === i)
    // read-back equals the frame curate returned
    val m = ob.get
    val returned = (m("n").asInstanceOf[Long], Option(m("h")).fold(0L)(_.asInstanceOf[Long]))
    val rb = back.agg(count(lit(1)), sum(chunkHash)).head()
    val readBack = (rb.getLong(0) + (if (p == "readback") 1 else 0), if (rb.isNullAt(1)) 0L else rb.getLong(1))
    if (readBack != returned) problems += s"output table reads back $readBack, curate returned $returned"
    if (warm) return problems.toSeq
    // ground truth per doc
    val perDoc = back.groupBy("id").agg(count(lit(1)), sum("n_tokens"), max("chunk_idx")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val shardDocs = corpus.docs.filter(_.shard == shard)
    val exactSources = shardDocs.filter(_.role == 1).map(_.src).toSet
    shardDocs.foreach { d =>
      val present = perDoc.contains(d.id)
      d.role match {
        case 0 =>
          val want = !(p == "clean" && d.id == shardDocs.find(_.role == 0).get.id) &&
            !(p == "exact_survivor" && exactSources.headOption.contains(d.id))
          if (present != want) problems += s"clean doc ${d.id} present=$present"
        case 1 if present => problems += s"exact copy ${d.id} of ${d.src} survived"
        case 3 if present != (p == "junk" && d == shardDocs.find(_.role == 3).get) =>
          problems += s"junk doc ${d.id} present=$present"
        case 4 if present != (p == "contaminated" && d == shardDocs.find(_.role == 4).get) =>
          problems += s"contaminated doc ${d.id} present=$present"
        case 5 if present != (p == "takedown" && d == shardDocs.find(_.role == 5).get) =>
          problems += s"taken-down doc ${d.id} present=$present"
        case _ =>
      }
      perDoc.get(d.id).foreach { case (n, toks, maxIdx) =>
        val wantN = nChunks(d.len) + (if (p == "window" && d.role == 0) 1 else 0)
        val stride = ChunkTokens - Overlap
        val wantToks = (0 until nChunks(d.len)).map(k => math.min(ChunkTokens, d.len - k * stride)).sum
        if (n != wantN || maxIdx != nChunks(d.len) - 1 || toks != wantToks)
          problems += s"doc ${d.id} (${d.len} tokens): $n chunks of $toks tokens, max index $maxIdx"
      }
    }
    // exact token windows and split of a seeded sample of kept docs
    val r = new scala.util.Random(seed * 31 + i)
    val sample = r.shuffle(shardDocs.filter(d => d.role == 0 && perDoc.contains(d.id)).map(_.id)).take(16)
    back.where(col("id").isin(sample: _*))
      .select("id", "chunk_idx", "chunk_id", "n_tokens", "chunk_text", "split").collect().foreach { x =>
        val d = corpus.byId(x.getLong(0)); val k = x.getLong(1).toInt
        val stride = ChunkTokens - Overlap
        val want = corpus.tokens(d).slice(k * stride, k * stride + ChunkTokens)
        if (x.getString(4) != want.mkString(" ") || x.getLong(3) != want.size ||
            x.getString(2) != s"${d.id}#$k")
          problems += s"chunk ${x.getString(2)} does not rebuild doc ${d.id}'s tokens"
        val wantSplit = splitOf(x.getString(2))
        if ((x.getString(5) == wantSplit) == (p == "split"))
          problems += s"chunk ${x.getString(2)} split ${x.getString(5)}, expected $wantSplit"
      }
    back.groupBy("split").count().collect().foreach(x => splitCounts(x.getString(0)) += x.getLong(1))
    kept += perDoc.size
    chunks += returned._1
    problems.toSeq
  }

  override def finalChecks(): Seq[String] = {
    val total = splitCounts.values.sum.toDouble
    val share = Map("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    share.toSeq.flatMap { case (s, want) =>
      val got = splitCounts(s) / math.max(total, 1.0)
      if (math.abs(got - want) <= 0.03) Nil else Seq(f"split $s holds $got%.3f of chunks, expected ~$want")
    }
  }

  override def probe(i: Int): Unit = {
    if (i % 2 == 0) Trace.span("functions.text_kernels") {
      MorReader.readWhere(spark, docsDir, Map("shard" -> Set((i % shards).toString)))
        .withColumn("_toks", TextOps.tokens(col("text")))
        .select(size(col("_toks")), TextOps.qualityScore(col("text"), "_toks"),
          TextOps.hash60(col("text")))
        .write.format("noop").mode("overwrite").save()
    }
    if (i % 2 == 1) Trace.span("meta.log_load")(SnapshotLog(docsDir).loadOutline())
  }

  override def layerStats(): Map[String, Double] =
    Layers.tableStats(spark, outDir) ++ Map(
      "ext.docs_kept" -> Harness.median(kept.toSeq),
      "ext.chunks_out" -> Harness.median(chunks.toSeq))
}
