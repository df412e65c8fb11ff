package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.Extract
import graft.gen.Corpus
import graft.io.Snapshots
import graft.model.Doc
import graft.ops.{Decontaminate, Dedup, Lm, Mix, Probe}
import graft.pipeline.{Curation, Pipeline, StreamingCuration}

/** One closed-loop operation: its wall, the docs it completed, and whether
  * it failed (threw, wrote an error row, or miscounted). */
final case class Op(wallS: Double, docs: Long, failed: Boolean)

/** End-of-run output checks, plus one fingerprint per operation that must
  * read the same in every run of the seed. */
final case class Verdict(checks: Seq[(String, Boolean)], fingerprints: Seq[String])

/** Per-layer samples, one value per operation (or one per run). */
final class Layers {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Wall and engine counters of span `id`'s jobs under metric prefix `x`. */
  def engine(tr: Tracer, x: String, id: Int, wallS: Double): Unit = {
    add(s"${x}_s", wallS)
    val t = new EngineStats
    tr.engine(id).values.foreach(t.add)
    addEngine(x, t)
  }

  /** Spill bytes and failed tasks read zero on every workload, so they are
    * not collected. */
  def addEngine(x: String, t: EngineStats): Unit = {
    add(s"$x.cpu_s", t.cpuNs / 1e9)
    add(s"$x.gc_s", t.gcMs / 1e3)
    add(s"$x.shuffle_bytes", t.shuffleBytes.toDouble)
    add(s"$x.stages", t.stages.toDouble)
  }
}

/** A workload: `setup` builds its inputs and state from scratch under a
  * directory (the benchmark repeats it to time it), `op` runs one
  * closed-loop operation, `verify` checks the run's outputs. */
abstract class Workload(val spark: SparkSession, val seed: Long,
                        val seedRows: IndexedSeq[Inputs.SeedRow]) {
  val slots: Int = spark.sparkContext.defaultParallelism
  /** Set-ups per run; set-up time is their median. The first ones run
    * cold and each is faster than the last until about the fourth, so
    * seven put the median where set-up time has levelled off. */
  def setupRepeats: Int = 7
  /** Operations a run makes, however long they take: a fixed count keeps
    * every run measuring the same operations, whatever the host's speed.
    * The first ones run cold (JIT, query code generation). One for the
    * curation workloads: their first operation alone takes ~13 s, and a
    * second, warm one would not fit the run-time budget. The inputs hold
    * at least this many operations. */
  def opsPerRun: Int = 1
  def setup(dir: String, tag: Int): Unit
  def op(i: Int, tr: Tracer, layers: Layers): Op
  def verify(ops: Seq[Op]): Verdict
  /** Layer probes a traced run takes once, before its traced loop. */
  def traceOnce(layers: Layers): Unit = ()
  /** End-to-end figures only this workload defines (diagnostics line). */
  def extraReport(ops: Seq[Op]): Map[String, Double] = Map.empty

  /** Row count of `df` after computing every column (a bare count lets the
    * optimizer prune columns, and joins that only feed them). */
  protected def consume(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head().getLong(0)

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Files and bytes under `root` (recursively); zero when absent. */
  protected def du(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }
}

/** The paper's own job: snapshot-per-tranche extraction with resume
  * against the lineage ledger. Tranche i is band i plus the first
  * `Overlap` docs of band i+1, so every tranche after the first
  * re-delivers `Overlap` docs its predecessor committed. */
object IngestResume {
  val Band = 500
  val Overlap = 125
  val Replicas = 3

  /** Doc `r * rows + j` of the spans table: seed row j's text under the
    * seed's permutation, synthesized as replica r (`gen.Corpus.synth`, ~1%
    * mega docs). */
  def doc(seed: Long, nRows: Int, j: Int, row: Inputs.SeedRow, r: Int): (Long, Doc) =
    (r.toLong * nRows + j, Corpus.synth(Inputs.idBase(seed) + r * 10000000L + row.docId,
      Inputs.permute(row.text, Inputs.affinePerm(Inputs.permIndex(seed, 0, 1)))))

  /** Every doc of the spans table with its ordinal. */
  def docs(seed: Long, rows: IndexedSeq[Inputs.SeedRow]): Iterator[(Long, Doc)] =
    for (r <- Iterator.range(0, Replicas); (row, j) <- rows.iterator.zipWithIndex)
      yield doc(seed, rows.length, j, row, r)
}

final class IngestResume(spark: SparkSession, seed: Long,
                         seedRows: IndexedSeq[Inputs.SeedRow])
    extends Workload(spark, seed, seedRows) {
  import spark.implicits._
  import IngestResume._
  /** Snapshots warm up over the first four or so; ten put the median past them. */
  override def opsPerRun: Int = 10
  private var out: String = _
  private var spans: DataFrame = _
  private val committed = mutable.ArrayBuffer.empty[(Long, Long)]
  private val bytesWritten = mutable.ArrayBuffer.empty[Long]

  def setup(dir: String, tag: Int): Unit = {
    // synthesized in parallel; each (band, k) pair is one file, so a
    // tranche scans 2 x slots files in parallel
    val n = seedRows.length; val s = slots; val sd = seed
    spark.sparkContext.parallelize(seedRows.zipWithIndex, s).flatMap { case (row, j) =>
      (0 until Replicas).iterator.map { r =>
        val (ord, d) = doc(sd, n, j, row, r)
        (ord, (ord / Band).toInt, (ord % s).toInt, d.doc_id, d.spans)
      }
    }.toDF("ord", "band", "k", "doc_id", "spans")
      .repartition(col("band"), col("k")).write.partitionBy("band", "k")
      .parquet(s"$dir/spans")
    spans = spark.read.parquet(s"$dir/spans")
    out = s"$dir/snapshots"
    committed.clear(); bytesWritten.clear()
  }

  def tranche(i: Int): Dataset[Doc] =
    spans.filter(col("band").isin(i, i + 1) &&
        col("ord") >= i.toLong * Band && col("ord") < i.toLong * Band + Band + Overlap)
      .select("doc_id", "spans").as[Doc]

  def expectedPending(i: Int): Long = if (i == 0) Band + Overlap else Band

  private def snapId(i: Int) = f"s$i%05d"

  /** Driver-side, single-thread extraction of a fixed sample (the first
    * 200 docs of tranche 0): microseconds per `Extract.extractDoc`, the
    * median of nine timed passes after twenty warm-up passes. */
  override def traceOnce(layers: Layers): Unit = {
    val sample = tranche(0).orderBy("doc_id").limit(200).collect()
    def pass(): Double = {
      val t0 = System.nanoTime()
      sample.foreach(Extract.extractDoc)
      (System.nanoTime() - t0) / 1e3 / sample.length
    }
    (1 to 20).foreach(_ => pass())
    layers.add("extract.doc_us", Seq.fill(9)(pass()).sorted.apply(4))
  }

  def op(i: Int, tr: Tracer, layers: Layers): Op = {
    val t = tranche(i)
    if (tr.enabled) {
      // layer probes on the same tranche, outside the operation's wall
      val (pending, rs) = timed(tr.span("pipeline.resume") {
        Snapshots.ledger(spark, out).map(Pipeline.resume(t, _)).getOrElse(t).count()
      })
      layers.engine(tr, "pipeline.resume", tr.last("pipeline.resume").id, rs)
      layers.add("pipeline.resume_skip_frac", 1.0 - pending.toDouble / (Band + Overlap))
      val (_, es) = timed(tr.span("pipeline.extract") {
        Pipeline.extract(Snapshots.ledger(spark, out).map(Pipeline.resume(t, _)).getOrElse(t)).count()
      })
      val ex = tr.engine(tr.last("pipeline.extract").id)
      val tot = new EngineStats; ex.values.foreach(tot.add)
      layers.add("pipeline.extract_s", es)
      layers.add("extract.cpu_s", tot.cpuNs / 1e9)
      layers.add("pipeline.extract.gc_s", tot.gcMs / 1e3)
      layers.add("pipeline.extract.shuffle_bytes", tot.shuffleBytes.toDouble)
      layers.add("pipeline.extract.stages", tot.stages.toDouble)
      // the extract stage (the span's busiest) lasts as long as its slowest
      // task; the skew is that task over the median one
      tr.stages(tr.last("pipeline.extract").id).map(_.taskMs.sorted).filter(_.nonEmpty)
        .sortBy(-_.sum).headOption.foreach { ts =>
          layers.add("extract.task_skew", ts.last.toDouble / math.max(1L, ts(ts.length / 2)))
        }
    }
    val ((ok, err), wall) = timed {
      val pending = Snapshots.ledger(spark, out).map(Pipeline.resume(t, _)).getOrElse(t)
      tr.span("pipeline.run")(Pipeline.run(spark, pending, out, snapId(i)))
    }
    committed += ((ok, err))
    val (files, bytes) = snapshotFiles(i)
    bytesWritten += bytes
    if (tr.enabled) {
      val sp = tr.last("pipeline.run")
      layers.engine(tr, "pipeline.run", sp.id, (sp.endNs - sp.startNs) / 1e9)
      val sites = tr.engine(sp.id)
      val writes = new EngineStats
      sites.filter(_._1.contains("DataFrameWriter")).values.foreach(writes.add)
      layers.add("io.snapshot_write_s", writes.jobWallMs / 1e3)
      layers.addEngine("io.snapshot_write", writes)
      layers.add("io.snapshot_files", files.toDouble)
      layers.add("io.snapshot_bytes_per_doc", bytes.toDouble / math.max(1L, ok + err))
    }
    Op(wall, ok + err, err > 0 || ok + err != expectedPending(i))
  }

  private def snapshotFiles(i: Int): (Long, Long) = {
    val id = snapId(i)
    val parts = Seq(Paths.get(out, "contracts", s"snapshot_id=$id"),
      Paths.get(out, "lineage", s"snapshot_id=$id"),
      Paths.get(out, s"_manifest_$id.json")).map(du)
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  override def extraReport(ops: Seq[Op]): Map[String, Double] =
    Map("snapshot_bytes_per_doc" -> bytesWritten.sum.toDouble / math.max(1L, ops.map(_.docs).sum))

  /** The contracts digest of every snapshot, the driver-side extraction of
    * a fixed doc sample, and exactly-once commits. */
  def verify(ops: Seq[Op]): Verdict = {
    val contracts = spark.read.parquet(s"$out/contracts")
    val digests = contracts
      .groupBy("snapshot_id")
      .agg(bit_xor(xxhash64(to_json(col("contract")), col("status"), col("op_hash"))).as("h"),
        count("*").as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fp = ops.indices.map(i => digests.get(snapId(i)).map(_._1.toString).getOrElse("missing"))
    val distinct = contracts.select("contract.doc_id").distinct().count()
    val sampleIds = tranche(0).select("doc_id").as[String].collect().sorted
    val sample = (sampleIds.take(12) ++ sampleIds.filter { d =>
      d.stripPrefix("doc-").toLong % Corpus.MegaModulus == 0 }.take(2)).distinct
    val docs = tranche(0).filter(col("doc_id").isin(sample: _*)).collect()
    val stored = contracts.filter(col("snapshot_id") === snapId(0) &&
        col("contract.doc_id").isin(sample: _*))
      .select("contract.*").as[graft.model.ContractRow].collect()
      .map(c => c.doc_id -> c).toMap
    val sampleOk = docs.length == sample.length &&
      docs.forall(d => stored.get(d.doc_id).contains(Extract.extractDoc(d)))
    Verdict(Seq(
      "docs_accounted" -> ops.indices.forall(i =>
        ops(i).docs == expectedPending(i) && digests.get(snapId(i)).exists(_._2 == ops(i).docs)),
      "no_error_rows" -> committed.forall(_._2 == 0L),
      "exactly_once" -> (distinct == ops.map(_.docs).sum),
      "driver_side_sample" -> sampleOk), fp)
  }
}

/** The batch training-data tier on a k-times affine-replicated corpus:
  * near-dup candidates, near-dup resolution, decontamination, duplicated
  * span removal, LM train + score. Reads its corpus, writes nothing. */
object CurateCorpus {
  val Replicas = 2
  val Rows = 500

  /** The first `Rows` seed rows plus the near-duplicates the seed table
    * plants for them elsewhere (same first six words): a slice that keeps
    * the table's duplicate pairs whole. */
  def rows(seedRows: IndexedSeq[Inputs.SeedRow]): IndexedSeq[Inputs.SeedRow] = {
    def prefix(r: Inputs.SeedRow) = r.text.split(" ").take(6).mkString(" ")
    val head = seedRows.take(Rows)
    val planted = head.map(prefix).toSet
    head ++ seedRows.drop(Rows).filter(r => planted(prefix(r)))
  }

  /** (doc_id, text, lang): `rows`, `Replicas` times, each replica under its
    * own affine permutation (ScaleBench's k-times corpus: same duplicate
    * density, distinct documents). */
  def docs(seed: Long, seedRows: IndexedSeq[Inputs.SeedRow]): IndexedSeq[(Long, String, String)] =
    for {
      r <- 0 until Replicas
      perm = Inputs.affinePerm(Inputs.permIndex(seed, r, Replicas))
      s <- rows(seedRows)
    } yield (Inputs.idBase(seed) + r * 10000000L + s.docId, Inputs.permute(s.text, perm), s.lang)
}

final class CurateCorpus(spark: SparkSession, seed: Long,
                         seedRows: IndexedSeq[Inputs.SeedRow])
    extends Workload(spark, seed, seedRows) {
  import spark.implicits._
  private var docs: DataFrame = _
  private var nDocs = 0L
  private val counts = mutable.ArrayBuffer.empty[Seq[Long]]

  def setup(dir: String, tag: Int): Unit = {
    val rows = CurateCorpus.docs(seed, seedRows)
    rows.toDF("doc_id", "text", "lang").repartition(slots)
      .write.parquet(s"$dir/corpus")
    docs = spark.read.parquet(s"$dir/corpus")
    nDocs = rows.length
    counts.clear()
  }

  private def nonBench = docs.filter("doc_id % 10 <> 7")
  private def bench = docs.filter("doc_id % 10 = 7")

  def op(i: Int, tr: Tracer, layers: Layers): Op = {
    val dropped = spark.sparkContext.longAccumulator("lsh_dropped_rows")
    def step(name: String)(body: => Long): Long = {
      val (n, s) = timed(tr.span(name)(body))
      if (tr.enabled) layers.engine(tr, name, tr.last(name).id, s)
      n
    }
    val (c, wall) = timed(Seq(
      step("dedup.candidates")(Dedup.minhashCandidates(docs, "doc_id", "text",
        droppedRows = Some(dropped)).count()),
      step("dedup.near_dups")(Dedup.resolveNearDups(docs, "doc_id", "text", threshold = 0.5)
        .filter("is_keeper = 1").count()),
      step("decon.contaminated")(Decontaminate.contaminated(nonBench, "doc_id", "text",
        bench, "text", n = 13).count()),
      step("decon.substr")(Decontaminate.removeDupSpans(docs, "doc_id", "text")
        .filter("n_removed > 0").count()),
      step("lm.train_score")(consume(Lm.score(docs, Lm.train(docs))))))
    counts += c
    if (tr.enabled) {
      layers.add("dedup.candidate_pairs", c(0).toDouble)
      layers.add("dedup.lsh_dropped_rows", dropped.value.toDouble)
      layers.add("dedup.keepers", c(1).toDouble)
      layers.add("decon.n_contaminated", c(2).toDouble)
      layers.add("decon.n_sub_docs", c(3).toDouble)
      // the verify stage on its own, outside the chain's wall
      val verified = step("dedup.verify")(Dedup.jaccardOnCandidates(docs,
        Dedup.minhashCandidates(docs, "doc_id", "text"), "doc_id", "text", 0.5).count())
      layers.add("dedup.verified_pairs", verified.toDouble)
      layers.add("dedup.verify_yield", verified.toDouble / math.max(1L, c(0)))
    }
    Op(wall, nDocs, c(4) != nDocs)
  }

  /** Every iteration reads the same corpus, so its counts repeat exactly. */
  def verify(ops: Seq[Op]): Verdict =
    Verdict(Seq(
      "counts_repeat" -> counts.forall(_ == counts.head),
      "all_docs_scored" -> counts.forall(_(4) == nDocs)),
      counts.map(_.take(4).mkString("/")).toSeq)
}

/** The incremental curation loop served: bootstrap all serving state once
  * (with the gram scrub), then fixed-size shards through `curateBatch` in a
  * closed loop, each accepted shard growing the state the next one meets.
  * A run makes `opsPerRun` (one) of them. */
object CurateStream {
  private def corpusRows(rows: IndexedSeq[Inputs.SeedRow]) = rows.filter(_.docId % 3 == 1)
  private def heldOut(rows: IndexedSeq[Inputs.SeedRow]) = rows.filter(_.docId % 3 == 0)
  def nShards(rows: IndexedSeq[Inputs.SeedRow]): Int =
    heldOut(rows).length / (Inputs.Fresh + Inputs.Contam)

  /** (doc_id, text, source, lang) of the bootstrap corpus. */
  def corpus(seed: Long, rows: IndexedSeq[Inputs.SeedRow]): IndexedSeq[(Long, String, String, String)] = {
    val perm = Inputs.affinePerm(Inputs.permIndex(seed, 0, 1))
    corpusRows(rows).map(r => (Inputs.idBase(seed) + r.docId, Inputs.permute(r.text, perm), r.source, r.lang))
  }

  /** (shard, doc_id, text, source, lang, kind) of every shard. */
  def shards(seed: Long, rows: IndexedSeq[Inputs.SeedRow])
      : IndexedSeq[(Int, Long, String, String, String, String)] = {
    val perm = Inputs.affinePerm(Inputs.permIndex(seed, 0, 1))
    (0 until nShards(rows)).flatMap { b =>
      Inputs.shard(b, Inputs.idBase(seed), heldOut(rows), corpusRows(rows)).map {
        case (id, text, src, lang, kind) => (b, id, Inputs.permute(text, perm), src, lang, kind)
      }
    }
  }

  def bench(seed: Long): IndexedSeq[String] =
    Inputs.BenchSnippets.map(Inputs.permute(_, Inputs.affinePerm(Inputs.permIndex(seed, 0, 1))))

  /** A job inside `curateBatch` belongs to the accept step when the
    * accept calls are on its call-site stack. */
  def isAccept(site: String): Boolean =
    Seq("pipeline.Curation.acceptShard", "pipeline.StreamingCuration.appendCorpus")
      .exists(site.contains)
}

final class CurateStream(spark: SparkSession, seed: Long,
                         seedRows: IndexedSeq[Inputs.SeedRow])
    extends Workload(spark, seed, seedRows) {
  import spark.implicits._
  val Decisions = Seq("keep", "exact_dup", "near_dup", "contaminated", "gibberish", "low_quality")
  private var dir: String = _
  private var ixs: Curation.Indexes = _
  private var shards: DataFrame = _
  private var bench: DataFrame = _
  private var stateBytes0 = 0L
  private val keepers = mutable.ArrayBuffer.empty[Long]

  /** One: a bootstrap takes ~17 s warm and ~30 s cold on 4 cores, so more
    * would not fit the benchmark's run-time limits. */
  override def setupRepeats: Int = 1

  private def corpusPath = s"$dir/state/corpus"
  private def outDir = s"$dir/batches"

  def setup(d: String, tag: Int): Unit = {
    dir = d
    val corpus = CurateStream.corpus(seed, seedRows)
      .toDF("doc_id", "text", "source", "lang").repartition(slots)
    CurateStream.shards(seed, seedRows).toDF("shard", "doc_id", "text", "source", "lang", "kind")
      .repartition(col("shard")).write.partitionBy("shard").parquet(s"$dir/shards")
    shards = spark.read.parquet(s"$dir/shards")
    CurateStream.bench(seed).toDF("snippet").write.parquet(s"$dir/bench")
    bench = spark.read.parquet(s"$dir/bench")
    ixs = Curation.Indexes(minhashTable = s"pb_mh_$tag", statsPath = s"$dir/state/stats",
      modelPath = s"$dir/state/model", lmPath = s"$dir/state/lm",
      gramTable = Some(s"pb_gx_$tag"))
    StreamingCuration.bootstrap(corpus, ixs, corpusPath, requireScrub = true)
    stateBytes0 = stateSize()._2
    keepers.clear()
  }

  private def warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** Files and bytes of the four serving tables and the corpus table. */
  private def stateSize(): (Long, Long) = {
    val parts = (Seq(Paths.get(dir, "state")) ++
      Seq(ixs.minhashTable, ixs.gramTable.get).flatMap(t =>
        Files.list(Paths.get(warehouse)).iterator().asScala
          .filter(_.getFileName.toString.startsWith(t)).toSeq)).map(du)
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def op(b: Int, tr: Tracer, layers: Layers): Op = {
    val shard = shards.filter(col("shard") === b).select("doc_id", "text", "source", "lang")
    val epoch = b + 1L
    if (tr.enabled) {
      // each layer's public call on this shard against the pre-accept
      // state (the batch's own epoch excluded), outside the batch's wall
      def step[T](name: String)(body: => T): T = {
        val (r, s) = timed(tr.span(name)(body))
        layers.engine(tr, name, tr.last(name).id, s)
        r
      }
      val scrubbed = step("decon.scrub")(
        Curation.scrubShard(spark, shard, ixs, Some(epoch)).localCheckpoint())
      val cands = step("dedup.probe") {
        Dedup.incrementalCandidates(scrubbed, "doc_id", "text",
          Dedup.openMinhashIndex(spark, ixs.minhashTable), excludeEpoch = Some(epoch))
          .localCheckpoint()
      }
      val corpus = StreamingCuration.openCorpus(spark, corpusPath, Some(epoch)).drop("epoch")
      val verified = step("dedup.verify") {
        Dedup.jaccardOnCandidates(scrubbed.select("doc_id", "text")
          .unionByName(corpus.select("doc_id", "text")), cands, "doc_id", "text", 0.5).count()
      }
      val nCands = cands.count()
      layers.add("dedup.candidate_pairs", nCands.toDouble)
      layers.add("dedup.verified_pairs", verified.toDouble)
      layers.add("dedup.verify_yield", verified.toDouble / math.max(1L, nCands))
      step("lm.gate")(consume(Lm.gate(scrubbed, Lm.openModel(spark, ixs.lmPath))))
      step("probe.score")(consume(Probe.score(scrubbed, Probe.openModel(spark, ixs.modelPath))))
      step("mix.assign")(consume(Mix.assign(scrubbed,
        Mix.rates(Mix.openStatsExcluding(spark, ixs.statsPath, epoch)))))
      step("curation.decide")(consume(Curation.curateShard(spark, scrubbed, corpus, ixs, bench,
        "snippet", excludeEpoch = Some(epoch))))
    }
    val (_, wall) = timed(tr.span("curation.batch") {
      StreamingCuration.curateBatch(shard, b, ixs, corpusPath, outDir, bench, "snippet")
    })
    val nKeep = spark.read.parquet(f"$outDir/batch=$b%06d/manifest")
      .select("n_keepers").as[Long].head()
    keepers += nKeep
    if (tr.enabled) {
      val sp = tr.last("curation.batch")
      val sites = tr.engine(sp.id)
      val accept = new EngineStats
      sites.filter { case (site, _) => CurateStream.isAccept(site) }.values.foreach(accept.add)
      layers.add("curation.accept_s", accept.jobWallMs / 1e3)
      layers.addEngine("curation.accept", accept)
      layers.engine(tr, "curation.batch", sp.id, (sp.endNs - sp.startNs) / 1e9)
      val (files, bytes) = stateSize()
      layers.add("io.state_files", files.toDouble)
      layers.add("io.state_bytes", bytes.toDouble)
      spark.catalog.refreshTable(ixs.minhashTable)
      layers.add("dedup.index_rows", spark.table(ixs.minhashTable).count().toDouble)
      val funnel = readFunnel(b)
      Decisions.foreach(d => layers.add(s"curation.decisions.$d", funnel.getOrElse(d, 0L).toDouble))
    }
    Op(wall, Inputs.ShardSize, false)
  }

  override def extraReport(ops: Seq[Op]): Map[String, Double] =
    Map("state_bytes_per_keeper" ->
      (stateSize()._2 - stateBytes0).toDouble / math.max(1L, keepers.sum))

  private def readFunnel(b: Int): Map[String, Long] =
    spark.read.parquet(f"$outDir/batch=$b%06d/funnel")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Each batch's funnel is its fingerprint; every decision must fire. */
  def verify(ops: Seq[Op]): Verdict = {
    val funnels = ops.indices.map(readFunnel)
    val fired = funnels.flatMap(_.keySet).toSet
    Verdict(Seq(
      "every_decision_fires" -> Decisions.forall(fired),
      "funnel_covers_shard" -> funnels.forall(_.values.sum == Inputs.ShardSize)),
      funnels.map(f => Decisions.map(d => f.getOrElse(d, 0L)).mkString("/")))
  }
}
