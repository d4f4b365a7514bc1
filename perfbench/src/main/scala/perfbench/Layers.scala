package perfbench

import graft.embed.{Embedder, FittedEmbedder, FittedEmbedders}
import graft.functions.Metric
import graft.index.{IndexCatalog, IndexKinds, IndexMeta, VectorIndex}
import graft.rag.{Context, ExtractiveGenerator}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The traced form of each facade call the workloads make: the layer
  * functions `VectorSearch`/`Index` call, in the same order, each inside
  * its own span. Where the facade leaves a layer's output lazy, the
  * traced form materializes it inside the layer's span (embedding with
  * the `noop` sink, search results with `collect`), so each span holds
  * its layer's own work; the cost of that split is the reported
  * tracing overhead. */
final class Layers(spark: SparkSession, t: Trace, root: String) {
  import spark.implicits._

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `VectorSearch.createDeltaSyncIndex`, managed-embedding form. */
  def createManaged(name: String, source: DataFrame, pk: String, textCol: String,
      embedder: Embedder, kind: String, options: Map[String, String]): (IndexMeta, FittedEmbedder) =
    t.span("facade.create") {
      val fitted = t.span("embed.fit")(embedder.fit(source, textCol))
      val embedded = fitted.transform(source, textCol)
      t.span("embed.transform")(noop(embedded))
      val catalog = IndexCatalog.open(spark, root)
      val idx = catalog.create(name, pk, "embedding", embedder.dim, Metric.Cosine,
        kind = kind, options = options)
      t.span("index.rebuild")(idx.rebuild(embedded))
      t.span("index.build")(IndexKinds.build(spark, idx.meta, embedded))
      catalog.save(spark, name)
      FittedEmbedders.save(spark, fitted, textCol, s"$root/${name}__embedder")
      (idx.meta, fitted)
    }

  /** `Index.similaritySearch(columns, queryText, k)` on a non-exact
    * managed index: embed the question, route through the kind's
    * layout, join the requested columns back by pk in rank order. */
  def similaritySearch(meta: IndexMeta, fitted: FittedEmbedder, columns: Seq[String],
      question: String, k: Int): DataFrame =
    t.span("facade.similaritySearch") {
      val qv = t.span("embed.query") {
        fitted.transform(Seq(Tuple1(question)).toDF("__qtext"), "__qtext")
          .select("embedding").head().getSeq[Float](0)
      }
      val (ranked, schema) = t.span("search") {
        val df = IndexKinds.search(spark, meta, Seq((0L, qv)).toDF("__qid", "__qvec"),
          "__qid", "__qvec", k)
        (df.collect(), df.schema)
      }
      val rankedDf = Layers.local(spark, ranked, schema)
      val scoreCols = rankedDf.columns.filterNot(c =>
        c == "__qid" || c == "query_id" || c == "rank" || c == meta.pkCol)
      val joined = rankedDf.join(IndexKinds.corpusTable(spark, meta), Seq(meta.pkCol))
        .orderBy(col("rank").asc)
        .select((columns ++ scoreCols).map(col): _*)
      Layers.local(spark, joined.collect(), joined.schema)
    }

  /** `Index.syncAndOptimize` on a managed index. */
  def syncAndOptimize(meta: IndexMeta, fitted: FittedEmbedder, textCol: String,
      changes: DataFrame, maxFilesPerDir: Int = 4): Unit =
    t.span("facade.syncAndOptimize") {
      val prepared = fitted.transform(changes, textCol)
      t.span("embed.transform")(noop(prepared))
      t.span("index.sync_exact")(new VectorIndex(meta).sync(spark, prepared))
      t.span("index.sync_layout")(IndexKinds.sync(spark, meta, prepared))
      t.span("index.optimize")(IndexKinds.optimize(spark, meta, maxFilesPerDir = maxFilesPerDir))
    }

  /** The RAG chain after retrieval, as one `rag` span. */
  def rag(retrieved: DataFrame, question: String): Array[Row] =
    t.span("rag")(Layers.ragChain(retrieved, question).collect())
}

object Layers {
  /** Collected rows back as a driver-local relation (no re-execution). */
  def local(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** retrieved `(doc_id, text, score)` → rank → first-wins dedup →
    * `[id] text` context → extractive answer: `(answer, context)`. */
  def ragChain(retrieved: DataFrame, question: String): DataFrame = {
    val ranked = retrieved
      .withColumn("rank", row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
      .withColumn("query_id", lit(0L))
    val deduped = Context.firstWinsDedup(ranked, Seq("query_id"), "doc_id", "rank")
    val ctx = Context.assembleContext(deduped, Seq("query_id"), "rank",
      Context.contextBlock(col("doc_id"), col("text")))
      .withColumn("question", lit(question))
    ExtractiveGenerator.generate(ctx, "context", "question").select("answer", "context")
  }
}
