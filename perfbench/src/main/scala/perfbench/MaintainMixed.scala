package perfbench

import scala.collection.mutable

import graft.index.{Generations, IvfIndex, NswIndex, NswSnapshotLayout, SnapshotLayout}
import graft.operators.Collections
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `maintain_mixed`: the write path beside reads, one closed-loop client,
  * over generational IVF (with a PQ sidecar) and NSW layouts.
  *
  * One operation is one maintenance batch: clean the batch's incoming
  * documents (quality gate, exact and MinHash dedup), apply its upserts,
  * updates and deletes to both layouts (the NSW apply beam-links each
  * upsert into the head graph), then serve one IVF query as of the new
  * head and one as of the pinned batch 0. The NSW as-of read path is
  * measured by set-up's recall serve: one walk costs more than a whole
  * IVF batch on this scale, and the run budget has room for it once.
  * Before each batch after the first the lifecycle policy runs, timed on
  * its own: a cutover to a new generation of both layouts when the IVF
  * debt gauge crosses the drift envelope, else a compaction of both once
  * they are past generation 1 (generation 1 keeps batch 0 answerable). */
object MaintainMixed {
  /** Base rows: past NswIndex.autoFloorN (2304), so the IVF cell count,
    * the NSW degree and the NSW beam are the library's scale-regime
    * values, which query_serve's small corpus never reaches. */
  val n0 = 2400
  /** Per batch: upserts of 5.6% of the base, so the IVF drift crosses
    * IvfIndex.rebuildThreshold (10%) after two batches: batch 3 (the
    * second traced one) follows a cutover, batch 4 a compaction. */
  val inserts = 90
  val updates = 45
  val deletes = 45
  val docsPerBatch = 60
  val k = 10
  val nQueries = 48
  /** Batches generated in set-up: more than a run applies. */
  val maxBatches = 5
  val families = Seq("ivf", "nsw")

  final class State(val ivfRoot: String, val nswRoot: String, val batchDirs: IndexedSeq[String],
      val gen: Inputs.Maintenance, val pinned: Seq[Long], val recall: Map[String, Double]) {
    var head = 0L
    val lifecycle = mutable.ArrayBuffer[(String, Double)]()
  }

  def run(ctx: Ctx): Outcome = {
    def generate() = Inputs.maintenance(ctx.seed, n0, maxBatches, inserts, updates, deletes,
      docsPerBatch, nQueries)
    val gen = generate()
    require(generate().fingerprint == gen.fingerprint,
      "input generator is not deterministic for this seed")
    val (st, setupMs) = Main.timed(setup(ctx, gen))
    def iteration(): Op = { lifecycle(ctx, st); batch(ctx, st) }
    // a traced run times three traced batches (a plain one, one after a
    // cutover, one after a compaction) and nothing untraced: no later
    // batch repeats a traced one on the same layout state, so there is no
    // like-for-like untraced run to set against them for a tracing overhead
    val traced = if (ctx.trace) Some(Layers.traced(ctx, 3)(_ => iteration())) else None
    val tracedLayout = if (ctx.trace) Some(layoutBytes(st)) else None
    val ops = traced.fold(Main.closedLoop(ctx.seconds, maxBatches - 1)(_ => Seq(iteration())))(_.ops)
    val checks = endChecks(ctx, st)
    val (opE2e, rep) = Main.opMetrics(ops, setupMs / 1000)
    val e2e = opE2e + ("recall_min" -> (st.recall.values.min, "1"))
    val parts = Main.partMedians(ops)
    val perLayer = traced.map { t =>
      val (bytes, files, liveRows) = tracedLayout.get
      def jobsPerOp(step: String) = t.stepJobs(step).size.toDouble / t.ops.size
      def rowsPerOp(step: String) = t.stepJobs(step).map(_.inputRows).sum.toDouble / t.ops.size
      def wall(step: String) = t.spansNamed(step).map(s => (s.endNs - s.startNs) / 1e6)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val common = t.common()
      val applyMs = t.ops.map(_.parts("apply"))
      common ++ Map(
        "SnapshotLayout.apply.wall_ms_p50" -> med(wall("apply_ivf")),
        "SnapshotLayout.apply.jobs_per_op" -> jobsPerOp("apply_ivf"),
        "NswSnapshotLayout.apply.wall_ms_p50" -> med(wall("apply_nsw")),
        "NswSnapshotLayout.apply.jobs_per_op" -> jobsPerOp("apply_nsw"),
        "SnapshotLayout.compact.wall_ms" -> wall("compact_ivf").sum,
        "NswSnapshotLayout.compact.wall_ms" -> wall("compact_nsw").sum,
        "Generations.cutover.wall_ms" -> wall("cutover").sum,
        "layout.output_bytes_per_row" -> bytes / (n0 + (t.ops.size + 1) * (inserts + updates)),
        "layout.files_end" -> files,
        "layout.bytes_per_live_row" -> bytes / liveRows,
        "asof_ivf.jobs_per_op" -> jobsPerOp("asof_ivf"),
        "asof_ivf.input_rows_per_op" -> rowsPerOp("asof_ivf"),
        "RecallEval.job_ms" -> common("RecallEval.job_ms_per_op") * t.ops.size,
        "clean.jobs_per_op" -> jobsPerOp("clean"),
        "clean_docs_per_s" -> docsPerBatch / (med(t.ops.map(_.parts("clean"))) / 1000),
        "ingest_rows_per_s" -> (inserts + updates + deletes) / (med(applyMs) / 1000),
        "apply_p50_ms" -> med(applyMs),
        "lifecycle_s" -> st.lifecycle.map(_._2).sum / 1000,
        "serve_asof_p50_ms" -> med(t.ops.flatMap(o =>
          Seq("asof_ivf", "asof_ivf_old").flatMap(o.parts.get))))
    }.getOrElse(Map.empty)
    // a memo hit would pass as a fast operation: in the traced phase every
    // step of every batch must have run Spark jobs of its own
    val memoHits = traced.fold(0L) { t =>
      t.tracer.allSpans.count(s => Set("clean", "apply_ivf", "apply_nsw", "asof_ivf")(s.name) &&
        !t.jobs.exists(_._2.id == s.id)).toLong
    }
    val failedChecks = checks.count(!_._2).toLong + memoHits
    Outcome(e2e, perLayer, ops.size + checks.size, ops.count(!_.ok) + failedChecks,
      rep ++ Map("input_fingerprint" -> f"${gen.fingerprint}%016x",
        "step_p50_ms" -> parts, "head_batch" -> st.head, "end_checks" -> checks.toMap,
        "traced_steps_without_jobs" -> memoHits,
        "recall_at_batch1" -> st.recall, "lifecycle_ms" -> st.lifecycle.toSeq.map {
          case (kind, ms) => Map("kind" -> kind, "ms" -> ms) },
        "index_knobs" -> Main.indexKnobs(ctx.spark, n0),
        "generations" -> Map("ivf" -> Generations.current(ctx.spark, st.ivfRoot),
          "nsw" -> Generations.current(ctx.spark, st.nswRoot))))
  }

  /** Write the inputs (the base vectors, and each batch's documents for
    * the clean), build both generational layouts, pin the batch-0 IVF
    * answer, apply and clean batch 1 (so every path of an operation is
    * compiled before timing), and measure recall@k of both families as of
    * batch 1 over every query against an exact scan of the expected live
    * set. Independent steps overlap. */
  def setup(ctx: Ctx, gen: Inputs.Maintenance): State = {
    val spark = ctx.spark
    val dir = ctx.freshDir("maintain_mixed")
    val emb = ctx.step("write_base") {
      frame(ctx, gen.base).write.parquet(s"$dir/base.parquet")
      spark.read.parquet(s"$dir/base.parquet")
    }
    val ivfRoot = s"$dir/ivf"
    val nswRoot = s"$dir/nsw"
    var batchDirs = IndexedSeq.empty[String]
    ctx.step("docs_and_layouts")(ctx.parallel(
      () => batchDirs = ctx.step("write_docs")(writeDocs(ctx, gen, dir)),
      () => {
        SnapshotLayout.initGen(IvfIndex.build(spark, emb), ivfRoot)
        SnapshotLayout.initPq(spark, Generations.genPath(ivfRoot, 1))
      },
      () => NswSnapshotLayout.initGen(emb, NswIndex.buildEdgesLsh(emb), nswRoot)))
    val b1 = gen.batches(0)
    var kept = Set.empty[Long]
    var pinned = Seq.empty[Long]
    ctx.step("pin_and_batch1")(ctx.parallel(
      () => kept = clean(ctx, batchDirs(0)),
      () => {
        pinned = serve(ctx, ivfRoot, 0L, gen.queries(0)).map(_._1)
        SnapshotLayout.applyBatchGen(spark, ivfRoot, 1L, upserts(ctx, b1), deletions(ctx, b1))
      },
      () => NswSnapshotLayout.applyBatchGen(spark, nswRoot, 1L, upserts(ctx, b1), deletions(ctx, b1))))
    require(b1.exactDupIds.forall(id => !kept(id)),
      "the clean of batch 1 kept a planted exact duplicate")
    val st0 = new State(ivfRoot, nswRoot, batchDirs, gen, pinned, Map.empty)
    st0.head = 1L
    val recall = ctx.step("recall_batch1")(ctx.parallel(
      families.map(f => () => f -> recallAt(ctx, st0, f, 1L)): _*)).toMap
    val st = new State(ivfRoot, nswRoot, batchDirs, gen, pinned, recall)
    st.head = 1L
    st
  }

  /** Every batch's documents in one write, partitioned by batch; each
    * partition then moves to <batch dir>/documents.parquet, the layout
    * the clean reads. Returns the batch directories. */
  private def writeDocs(ctx: Ctx, gen: Inputs.Maintenance, dir: String): IndexedSeq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    gen.batches.flatMap(b => b.docs.map(x =>
        (x.id, x.text, "en", s"src${x.id % 4}", x.text.length.toLong, b.id)))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "batch")
      .repartition(col("batch")).write.partitionBy("batch").parquet(s"$dir/docs")
    gen.batches.map { b =>
      val d = new java.io.File(s"$dir/batch-${b.id}")
      d.mkdirs()
      require(new java.io.File(s"$dir/docs/batch=${b.id}")
        .renameTo(new java.io.File(d, "documents.parquet")), s"cannot place batch ${b.id} documents")
      d.getPath
    }
  }

  private def upserts(ctx: Ctx, b: Inputs.Batch): DataFrame = frame(ctx, b.upserts)

  private def deletions(ctx: Ctx, b: Inputs.Batch): DataFrame =
    frame(ctx, b.deletes.map(id => (id, Array.emptyFloatArray))).select("vec_id")

  /** Document ids the training-data clean keeps for one batch. */
  private def clean(ctx: Ctx, dir: String): Set[Long] =
    Collections.pipelineClean(ctx.spark, dir).collect().map(_.getAs[Long]("doc_id")).toSet

  private def frame(ctx: Ctx, rows: Seq[(Long, Array[Float])]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Single-query IVF as-of serve, hits as (id, score_e6) in rank order. */
  private def serve(ctx: Ctx, ivfRoot: String, batch: Long, q: Array[Float]): Seq[(Long, Long)] = {
    val spark = ctx.spark
    val qf = spark.range(1).select(lit(0L).as("q_id"), typedlit(q).as("q_vec"))
    SnapshotLayout.searchAsOfSingleGen(spark, ivfRoot, batch, qf, k = k).collect()
      .sortBy(_.getAs[Long]("rank")).toSeq
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("score_e6")))
  }

  /** Mean recall@k over every query, served as one batch as of `b`,
    * against an exact scan of the generator's live set. */
  private def recallAt(ctx: Ctx, st: State, family: String, b: Long): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val live = st.gen.liveAfter(b.toInt)
    val qf = st.gen.queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("q_id", "q_vec")
    val rows =
      if (family == "ivf") SnapshotLayout.searchAsOfGen(spark, st.ivfRoot, b, qf, k = k).collect()
      else NswSnapshotLayout.searchAsOfGen(spark, st.nswRoot, b, qf, k = k).collect()
    val hits = rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q.toInt -> rs.map(_.getAs[Long]("neighbor_id")).toSeq }
    val per = st.gen.queries.indices.map(qi =>
      recallOf(live, st.gen.queries(qi), hits.getOrElse(qi, Nil)))
    per.sum / per.size
  }

  /** Recall@k of one query's hits against an exact scan of `live`; a hit
    * tying the k-th exact cosine counts as found. */
  private def recallOf(live: Map[Long, Array[Float]], q: Array[Float], hits: Seq[Long]): Double = {
    val exact = live.toSeq.map { case (id, v) => (id, Inputs.cosine(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
    val kth = exact.last._2
    val ids = exact.map(_._1).toSet
    hits.count(id => ids(id) || live.get(id).exists(v => Inputs.cosine(q, v) >= kth - 1e-6))
      .toDouble / k
  }

  /** Lifecycle policy for the current head, timed apart from the batch. */
  def lifecycle(ctx: Ctx, st: State): Unit = {
    val spark = ctx.spark
    val debt = ctx.span("debt_gauge", "SnapshotLayout") {
      SnapshotLayout.layoutDebtGen(spark, st.ivfRoot).filter(col("is_current"))
        .select("fitted_n", "delta_since_fit").first()
    }
    val drift = debt.getLong(1).toDouble / math.max(1L, debt.getLong(0))
    if (drift > IvfIndex.rebuildThreshold) {
      val (_, ms) = Main.timed(ctx.span("cutover", "Generations") {
        SnapshotLayout.newGeneration(spark, st.ivfRoot)
        NswSnapshotLayout.newGeneration(spark, st.nswRoot)
      })
      st.lifecycle += ("cutover" -> ms)
    } else if (Generations.current(spark, st.ivfRoot) > 1) {
      val (_, ms) = Main.timed {
        ctx.span("compact_ivf", "SnapshotLayout")(SnapshotLayout.compact(spark,
          Generations.genPath(st.ivfRoot, Generations.current(spark, st.ivfRoot)), st.head))
        ctx.span("compact_nsw", "NswSnapshotLayout")(NswSnapshotLayout.compact(spark,
          Generations.genPath(st.nswRoot, Generations.current(spark, st.nswRoot)), st.head))
      }
      st.lifecycle += ("compact" -> ms)
    }
  }

  /** One maintenance batch with its checks: every planted exact duplicate
    * dropped by the clean; both head serves return k ranked hits from the
    * expected live set with scores never increasing; the batch-0 serve
    * returns the pinned ids. Recall of the head serves is reported per
    * family. */
  def batch(ctx: Ctx, st: State): Op = {
    val spark = ctx.spark
    val b = st.head + 1
    val in = st.gen.batches((b - 1).toInt)
    val dir = st.batchDirs((b - 1).toInt)
    val parts = mutable.LinkedHashMap[String, Double]()
    def part[T](name: String, layer: String)(body: => T): T = {
      val (r, ms) = Main.timed(ctx.span(name, layer)(body))
      parts(name) = ms
      r
    }
    val (res, ms) = Main.timed {
      val kept = part("clean", "Collections")(clean(ctx, dir))
      val ups = upserts(ctx, in)
      val dels = deletions(ctx, in)
      part("apply_ivf", "SnapshotLayout")(SnapshotLayout.applyBatchGen(spark, st.ivfRoot, b, ups, dels))
      part("apply_nsw", "NswSnapshotLayout")(NswSnapshotLayout.applyBatchGen(spark, st.nswRoot, b, ups, dels))
      parts("apply") = parts("apply_ivf") + parts("apply_nsw")
      st.head = b
      val q = st.gen.queries(b.toInt % nQueries)
      val live = st.gen.liveAfter(b.toInt)
      val head = part("asof_ivf", "SnapshotLayout")(serve(ctx, st.ivfRoot, b, q))
      val old = part("asof_ivf_old", "SnapshotLayout")(serve(ctx, st.ivfRoot, 0L, st.gen.queries(0)))
      val contract = head.size == k && head.forall { case (id, _) => live.contains(id) } &&
        head.map(_._2).sliding(2).forall {
          case Seq(a, c) => c <= a
          case _ => true
        }
      (contract && old.map(_._1) == st.pinned && in.exactDupIds.forall(id => !kept(id)),
        recallOf(live, q, head.map(_._1)))
    }
    Op("batch", ms, parts.toMap, res._1, Map("head_ivf" -> res._2),
      work = inserts + updates + deletes)
  }

  /** After the timed phase: the head reconstruction of both layouts holds
    * exactly the generator's live set, and batch 0 of the NSW layout
    * still reconstructs the base. The three checks overlap. */
  private def endChecks(ctx: Ctx, st: State): Seq[(String, Boolean)] = {
    def ids(df: DataFrame) = df.select("vec_id").collect().map(_.getLong(0)).toSet
    val want = st.gen.liveAfter(st.head.toInt).keySet
    val checks = Seq[(String, () => Boolean)](
      "ivf_head_live_set" -> (() =>
        ids(SnapshotLayout.asOfAssignedGen(ctx.spark, st.ivfRoot, st.head)) == want),
      "nsw_head_live_set" -> (() =>
        ids(NswSnapshotLayout.asOfVectorsGen(ctx.spark, st.nswRoot, st.head)) == want),
      "nsw_batch0_base_set" -> (() =>
        ids(NswSnapshotLayout.asOfVectorsGen(ctx.spark, st.nswRoot, 0L)) == st.gen.liveAfter(0).keySet))
    checks.map(_._1).zip(ctx.parallel(checks.map(_._2): _*))
  }

  /** (bytes, files) under both roots, and the live row count at head. */
  private def layoutBytes(st: State): (Double, Double, Double) = {
    val (b1, f1) = Main.dirBytesAndFiles(st.ivfRoot)
    val (b2, f2) = Main.dirBytesAndFiles(st.nswRoot)
    ((b1 + b2).toDouble, (f1 + f2).toDouble, st.gen.liveAfter(st.head.toInt).size.toDouble)
  }
}
