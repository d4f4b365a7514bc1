package perfbench

import graft.{Index, VectorSearch}
import graft.embed.{FittedEmbedder, FittedEmbedders, HashingTfIdfEmbedder}
import graft.index.{IndexKinds, IndexMeta}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** The two workloads. Each runs its set-up, untimed warm-up operations
  * (enough for the JIT to settle on the op's path), then a closed loop
  * with one client for `--seconds`, and checks every output against
  * ground truth the benchmark computes itself. With `--trace 1` the loop
  * alternates facade operations (each in one `facade.op` span, for the
  * program's own Spark work) with traced layer-by-layer ones
  * ([[Layers]], for the time of each layer); the latency ratio between
  * the two is the tracing overhead. */
object Workloads {
  val names = Seq("rag_serve", "ingest_sync")
  val K = 10
  val Endpoint = "bench"
  val ManagedIvf = Map("cells" -> "32", "nProbe" -> "4", "trained" -> "true")

  /** Workload sizes (see perfbench/README.md for why these). */
  val DocFactor = 4
  val Questions = 400
  val RecallQueries = 500
  val ChangeRows = 100

  final class Ctx(val args: Main.Args, val spark: SparkSession, val sessionS: Double) {
    val root = s"${args.work}/indexes"
    val trace = new Trace(spark.sparkContext, args.trace)
    val layers = new Layers(spark, trace, root)
    val vs: VectorSearch = new VectorSearch(spark, root).createEndpoint(Endpoint)
    val report = new Report
    /** untraced (facade) and traced (layers) latencies of the timed ops */
    val untraced = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    var generateS = 0.0
    var warmS = 0.0
    var loopStartNs = Long.MaxValue
    var buildS = 0.0
    val info = new LayerInfo
    def tracedOp(i: Int): Boolean = args.trace && i % 2 == 1
  }

  /** Counts the benchmark knows about the work it hands each layer. */
  final class LayerInfo {
    var corpusRows = 0L
    /** over the facade search calls (`facade.search*` spans) */
    var searchQueries = 0L
    var distanceEvals = 0L
    /** over the ivf recall calls (`facade.search` spans) */
    var recallQueries = 0L
    var layoutPaths = Seq.empty[String]
  }

  def run(args: Main.Args, spark: SparkSession, sessionS: Double): Report = {
    val c = new Ctx(args, spark, sessionS)
    args.workload match {
      case "rag_serve" => ragServe(c)
      case "ingest_sync" => ingestSync(c)
    }
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    if (args.trace) {
      c.trace.write(s"${args.work}/spans-${args.workload}-${args.seed}.jsonl")
      LayerMetrics.fill(c)
    }
    c.report
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs a checked operation that is not timed: a failure (throw or
    * check) is counted, never swallowed. Returns whether it passed. */
  def checked(c: Ctx, what: String)(f: => Option[String]): Boolean = {
    c.report.attempted += 1
    val err = try f catch { case NonFatal(e) => Some(s"threw $e") }
    err.foreach(e => c.report.fail(s"$what: $e"))
    err.isEmpty
  }

  /** Closed loop, one client: op i runs only after op i-1 returned, for
    * `--seconds`; an op is not started when the last one's duration would
    * carry it past the end. `op` returns the materialized output (the
    * timed part); `check` verifies it outside the timing. An op that
    * throws or fails its check counts as failed and leaves no latency
    * sample. */
  def closedLoop[A](c: Ctx, what: String, first: Int)(op: Int => A)(check: (Int, A) => Option[String]): Unit = {
    c.loopStartNs = System.nanoTime()
    val deadline = c.loopStartNs + (c.args.seconds * 1e9).toLong
    var i = first
    var last = 0L
    while (i == first || System.nanoTime() + last <= deadline) {
      c.report.attempted += 1
      val traced = c.tracedOp(i)
      val t0 = System.nanoTime()
      val result = try {
        val (out, s) = seconds(op(i))
        check(i, out).map(e => s"$what $i: $e").toLeft(s)
      } catch { case NonFatal(e) => Left(s"$what $i threw $e") }
      last = System.nanoTime() - t0
      result match {
        case Right(s) => (if (traced) c.traced else c.untraced) += s
        case Left(e) => c.report.fail(e)
      }
      i += 1
    }
  }

  /** A check after the loop found state that every timed op built on
    * wrong: each timed op that passed its own check counts as failed
    * after all, and its latency sample is dropped. */
  def invalidateLoop(c: Ctx, why: String): Unit = {
    val n = c.untraced.size + c.traced.size
    c.report.failed += n
    c.untraced.clear(); c.traced.clear()
    System.err.println(s"perfbench: FAILED $n timed ops, whose final state failed '$why'")
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** On-disk bytes of everything an index owns under the catalog root:
    * its exact artifact, kind layout and side files, embedder, meta. */
  def indexBytes(c: Ctx, name: String): Long = {
    val root = new Path(c.root)
    val fs = root.getFileSystem(c.spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      n == name || n.startsWith(name + "__")
    }.map(st => fs.getContentSummary(st.getPath).getLength).sum
  }

  /** Largest number of data files in one directory of a layout. */
  def maxFilesPerDir(c: Ctx, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(c.spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Long = {
      val sts = fs.listStatus(d)
      val here = sts.count(s => s.isFile && s.getPath.getName.endsWith(".parquet")).toLong
      (here +: sts.filter(_.isDirectory).map(s => walk(s.getPath)).toSeq).max
    }
    if (fs.exists(p)) walk(p) else 0L
  }

  private def queryFrame(c: Ctx, vecs: Seq[Array[Float]]): DataFrame = {
    import c.spark.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("qid", "qvec")
  }

  /** Embeds texts with a fitted embedder (the index's own transform). */
  private def embed(c: Ctx, fitted: FittedEmbedder, texts: Seq[(Long, String)]): Seq[(Long, Array[Float])] = {
    import c.spark.implicits._
    fitted.transform(texts.toDF("id", "text"), "text")
      .select("id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
  }

  /** Groups `(query_id, rank, pk, score)` rows by query, in rank order. */
  private def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.toSeq.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).map(r => (r.getLong(2), r.getAs[Double]("score")))
    }

  /** One facade `Index.search` call over a query batch, collected, in its
    * own span (`facade.search` for the ivf recall batch,
    * `facade.search.exact` for the exact check); the search and kernel
    * counts of a traced run come from these spans. `evals` is the number
    * of distance evaluations the call makes. */
  private def facadeSearch(c: Ctx, index: Index, queries: Seq[Array[Float]], evals: => Long): Array[Row] = {
    val exact = index.meta.kind == IndexKinds.Exact
    if (c.args.trace) {
      c.info.searchQueries += queries.size
      c.info.distanceEvals += evals
      if (!exact) c.info.recallQueries += queries.size
    }
    c.trace.span(if (exact) "facade.search.exact" else "facade.search") {
      index.search(queryFrame(c, queries), "qid", "qvec", K).collect()
    }
  }

  /** ANN recall of one search call's rows against the truth. */
  private def recallOf(truth: Truth, queries: Seq[Array[Float]], rows: Array[Row],
      want: IndexedSeq[Seq[(Long, Double)]]): Either[String, Double] = {
    val got = byQuery(rows)
    val hits = queries.indices.map { q =>
      truth.annHits(queries(q), got.getOrElse(q.toLong, Nil), want(q))
        .flatMap(h => if (got.getOrElse(q.toLong, Nil).size == K) Right(h)
          else Left(s"query $q: ${got.getOrElse(q.toLong, Nil).size} results"))
    }
    hits.collectFirst { case Left(e) => e }.toLeft(hits.map(_.toOption.get).sum.toDouble / (K * queries.size))
  }

  /** Distance evaluations an IVF search makes: for each query, the rows
    * of its `nProbe` nearest cells (centroids read from the layout's
    * side file, cell sizes counted from the layout). */
  private def ivfEvals(c: Ctx, meta: IndexMeta, queries: Seq[Array[Float]]): Long = {
    val layout = IndexKinds.layoutPath(meta)
    val cents = c.spark.read.parquet(layout + "_centroids").collect()
      .map(r => (r.getAs[Int]("__cell"), r.getAs[Seq[Float]]("__centroid").toArray))
    val sizes = c.spark.read.parquet(layout).groupBy("__cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nProbe = meta.options.getOrElse("nProbe", "4").toInt
    queries.map { q =>
      cents.map { case (cell, v) =>
        (v.indices.map(d => { val x = v(d).toDouble - q(d); x * x }).sum, cell)
      }.sorted.take(nProbe).map(p => sizes.getOrElse(p._2, 0L)).sum
    }.sum
  }

  /** Reads the fixture, draws the corpus and writes the blown-up source
    * table: the generator, the local corpus and the program's input. */
  private def generateDocs(c: Ctx): (Gen, IndexedSeq[(Long, String)], DataFrame) = {
    val (out, s) = seconds {
      val gen = new Gen(Gen.readFixture(c.spark, c.args.fixture), c.args.seed)
      val docs = Gen.blownUpDocs(c.spark, Gen.docsFrame(c.spark, gen.baseDocs), DocFactor,
        s"${c.args.work}/docs")
      (gen, Gen.blownUpDocsLocal(gen.baseDocs, DocFactor), docs)
    }
    c.generateS = s
    c.info.corpusRows = out._2.size
    out
  }

  /** Builds the managed ivf index with one timed `createDeltaSyncIndex`
    * call (or its layers when tracing). */
  private def buildManaged(c: Ctx, name: String, docs: DataFrame): (Index, IndexMeta, FittedEmbedder) = {
    val (_, s) = seconds {
      if (c.args.trace)
        c.layers.createManaged(name, docs, "doc_id", "text", new HashingTfIdfEmbedder(64),
          IndexKinds.Ivf, ManagedIvf)
      else c.vs.createDeltaSyncIndex(Endpoint, docs, name, "doc_id", "text",
        new HashingTfIdfEmbedder(64), IndexKinds.Ivf, ManagedIvf)
    }
    c.buildS = s
    val index = new VectorSearch(c.spark, c.root).getIndex(name).get
    val fitted = FittedEmbedders.load(c.spark, s"${c.root}/${name}__embedder").get._1
    (index, index.meta, fitted)
  }

  // ---------------------------------------------------------------- rag_serve

  def ragServe(c: Ctx): Unit = {
    val (gen, localDocs, docs) = generateDocs(c)
    val textOf = localDocs.toMap
    val questions = IndexedSeq.fill(Questions)(gen.question(gen.baseDocs))
    val recallQs = IndexedSeq.fill(RecallQueries)(gen.question(gen.baseDocs))

    val (index, meta, fitted) = buildManaged(c, "rag", docs)

    val truth = new Truth(embed(c, fitted, localDocs))
    val qv = embed(c, fitted, (questions ++ recallQs).zipWithIndex.map { case (q, i) => (i.toLong, q) })
      .sortBy(_._1).map(_._2).toIndexedSeq

    def request(i: Int): Array[Row] = {
      val q = questions(i % questions.size)
      if (c.tracedOp(i)) {
        c.trace.newRequest()
        c.trace.span("op") {
          c.layers.rag(c.layers.similaritySearch(meta, fitted, Seq("doc_id", "text"), q, K), q)
        }
      } else c.trace.span("facade.op") {
        Layers.ragChain(index.similaritySearch(Seq("doc_id", "text"), q, K), q).collect()
      }
    }
    def check(i: Int, out: Array[Row]): Option[String] = {
      val qi = i % questions.size
      if (out.length != 1) return Some(s"${out.length} answer rows")
      val answer = out(0).getString(0)
      val blocks = out(0).getString(1).split("\n\n").toSeq.map { b =>
        val close = b.indexOf("] ")
        (b.substring(1, close).toLong, b.substring(close + 2))
      }
      if (blocks.size != K) Some(s"${blocks.size} context blocks")
      else blocks.find { case (id, t) => !textOf.get(id).contains(t) }
        .map { case (id, _) => s"context text of $id differs from the source" }
        .orElse(if (answer != blocks.head._2) Some("answer is not the first context block") else None)
        .orElse {
          val q = Truth.unit(qv(qi))
          val scores = blocks.map(b => truth.score(q, b._1))
          scores.sliding(2).collectFirst {
            case Seq(a, b) if b > a + Truth.Tol => "context not in rank order"
          }
        }
    }

    val warmOps = 6
    val (_, warmS) = seconds {
      (0 until warmOps).foreach(i => checked(c, s"warm-up request $i")(check(i, request(i))))
    }
    c.warmS = warmS
    closedLoop(c, "request", warmOps)(request)(check)

    var recall = Double.NaN
    checked(c, "recall batch") {
      val qs = qv.drop(questions.size)
      recallOf(truth, qs, facadeSearch(c, index, qs, ivfEvals(c, meta, qs)),
        qs.map(truth.topK(_, K))).fold(Some(_), r => { recall = r; None })
    }
    c.info.layoutPaths = Seq(IndexKinds.layoutPath(meta))
    finish(c, recall, indexBytes(c, meta.name).toDouble / localDocs.size, readWorkload = true)
  }

  // -------------------------------------------------------------- ingest_sync

  def ingestSync(c: Ctx): Unit = {
    val (gen, localDocs, docs) = generateDocs(c)
    val state = new ReplayState(localDocs)
    val (index, meta, fitted) = buildManaged(c, "ingest", docs)

    // drawing a batch is a local relation over ~100 generated rows: no
    // Spark job, well under a millisecond of the timed op
    def op(i: Int): Seq[(Long, String, String, Long)] = {
      import c.spark.implicits._
      val rows = gen.changeBatch(ChangeRows, state)
      val changes = rows.toDF("doc_id", "text", "__op", "__seq")
      if (c.tracedOp(i)) c.trace.span("op")(c.layers.syncAndOptimize(meta, fitted, "text", changes))
      else c.trace.span("facade.op")(index.syncAndOptimize(changes))
      rows
    }
    // after each batch the exact artifact holds exactly the batch's pks
    // that the replay keeps; vectors are checked once, after the loop
    def check(i: Int, rows: Seq[(Long, String, String, Long)]): Option[String] = {
      val pks = rows.map(_._1)
      val present = c.spark.read.parquet(meta.path).where(col("doc_id").isin(pks: _*))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      pks.find(pk => present(pk) != state.contains(pk)).map { pk =>
        s"pk $pk is ${if (present(pk)) "present" else "absent"} in the exact artifact" +
          s" but ${if (state.contains(pk)) "live" else "deleted"} in the replay"
      }
    }

    val warmOps = 3
    val (_, warmS) = seconds {
      (0 until warmOps).foreach(i => checked(c, s"warm-up sync $i")(check(i, op(i))))
    }
    c.warmS = warmS
    closedLoop(c, "sync", warmOps)(op)(check)

    // sync ≡ rebuild: the exact artifact and the layout must hold exactly
    // the replayed rows, with vectors equal to the transform of their text
    val live = state.rows.toSeq.sortBy(_._1)
    val expected = embed(c, fitted, live).toMap
    val synced = checked(c, "sync = rebuild") {
      def table(df: DataFrame) = df.select("doc_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
      def diff(what: String, got: Map[Long, Array[Float]], normalize: Boolean): Option[String] =
        if (got.keySet != expected.keySet)
          Some(s"$what: ${(got.keySet -- expected.keySet).size} extra, ${(expected.keySet -- got.keySet).size} missing pks")
        else got.collectFirst {
          case (pk, v) if {
            val w = if (normalize) Truth.unit(expected(pk)) else expected(pk).map(_.toDouble)
            v.indices.exists(d => math.abs(v(d) - w(d)) > 1e-5)
          } => s"$what: vector of $pk differs from the transform of its text"
        }
      diff("exact artifact", table(c.spark.read.parquet(meta.path)), normalize = true)
        .orElse(diff("ivf layout", table(IndexKinds.corpusTable(c.spark, meta)), normalize = false))
    }
    if (!synced) invalidateLoop(c, "sync = rebuild")

    val truth = new Truth(expected.toSeq)
    val liveIdx = live.toIndexedSeq
    val qs = embed(c, fitted, IndexedSeq.tabulate(RecallQueries)(i => (i.toLong, gen.question(liveIdx))))
      .sortBy(_._1).map(_._2)
    val want = qs.map(truth.topK(_, K)).toIndexedSeq
    var recall = Double.NaN
    checked(c, "recall after sync") {
      recallOf(truth, qs, facadeSearch(c, index, qs, ivfEvals(c, meta, qs)), want)
        .fold(Some(_), r => { recall = r; None })
    }
    // the exact kind must match the brute force on every query, over the
    // final vectors as a self-managed index
    checked(c, "exact kind = brute force") {
      import c.spark.implicits._
      val vecs = expected.toSeq.map { case (pk, v) => (pk, v.toSeq) }.toDF("doc_id", "embedding")
      val exact = c.vs.createDeltaSyncIndex(Endpoint, vecs, "final_exact", "doc_id", "embedding",
        fitted.dim, IndexKinds.Exact)
      val got = byQuery(facadeSearch(c, exact, qs, expected.size.toLong * qs.size))
      qs.indices.iterator.map { q =>
        truth.exactMismatch(qs(q), got.getOrElse(q.toLong, Nil).map(_._1), want(q)).map(e => s"query $q: $e")
      }.collectFirst { case Some(e) => e }
    }
    c.info.layoutPaths = Seq(IndexKinds.layoutPath(meta))
    finish(c, recall, indexBytes(c, meta.name).toDouble / state.size, readWorkload = false)
  }

  /** End-to-end metrics and the summary lines. */
  private def finish(c: Ctx, recall: Double, bytesPerRow: Double, readWorkload: Boolean): Unit = {
    val r = c.report
    val build = c.buildS
    val setup = c.sessionS + c.generateS + c.warmS + (if (readWorkload) build else 0.0)
    val lat = c.untraced.toSeq
    r.e2e("setup_s") = (setup, "s")
    r.e2e("build_s") = (build, "s")
    r.e2e("op_p50_s") = (median(lat), "s")
    r.e2e("recall_at_10") = (recall, "fraction")
    r.e2e("index_bytes_per_row") = (bytesPerRow, "B/row")
    val tails = Seq(0.75 -> "p75", 0.9 -> "p90").filter { case (q, _) => lat.size * (1 - q) >= 10 }
      .map { case (q, n) => f"$n=${quantile(lat, q)}%.4fs" }
    r.summary += f"${c.args.workload}: ops=${lat.size} p50=${median(lat)}%.4fs ${tails.mkString(" ")}" +
      f" build_s=$build%.3f setup_s=$setup%.3f (session ${c.sessionS}%.3f, generate ${c.generateS}%.3f, warm-up ${c.warmS}%.3f)" +
      f" recall_at_10=$recall%.4f index_bytes_per_row=$bytesPerRow%.1f" +
      f" latencies=[${lat.map(x => f"$x%.3f").mkString(",")}]" +
      f" ops_failed_frac=${if (r.attempted > 0) r.failed.toDouble / r.attempted else 0.0}%.4f (${r.failed}/${r.attempted})"
  }
}
