package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.VectorFunctions._

/** K-nearest-neighbor search over an embedding column — the Spark-native
  * re-expression of the reference's pgvector query
  * `SELECT … ORDER BY embedding <-> ?::vector LIMIT 5`
  * (PDF-Summarizer/src/main/java/com/yoshio3/SSEOpenAIController.java:315-316).
  *
  * Scale design: `orderBy(dist).limit(k)` planifies to
  * `TakeOrderedAndProject` — a per-partition size-k heap followed by a
  * driver-side merge of partition winners. The corpus is never shuffled and
  * never globally sorted; driver memory is O(k · partitions). The distance
  * expression is pure higher-order-function codegen (VectorFunctions), so a
  * 100 TB scan is one narrow whole-stage-codegen pass.
  */
object Knn {

  /** pgvector-style distance selector. */
  sealed trait Metric { def dist(a: Column, b: Column): Column }
  case object L2 extends Metric { def dist(a: Column, b: Column): Column = l2Distance(a, b) }
  case object Cosine extends Metric { def dist(a: Column, b: Column): Column = cosineDistance(a, b) }
  case object InnerProduct extends Metric { def dist(a: Column, b: Column): Column = negInnerProduct(a, b) }
  case object L1 extends Metric { def dist(a: Column, b: Column): Column = l1Distance(a, b) }

  /** Top-k rows of `corpus` nearest to the single query vector in
    * `query` (a 1-row frame holding `embCol`). The query vector is
    * collected once and scored as a literal — no corpus movement, and the
    * query plan (an embed call, say) is not evaluated again. Distances are
    * rounded to `scale` decimals BEFORE ordering (ties then broken by
    * `idCol`) so results are reproducible across engines and
    * partitionings.
    */
  def topK(corpus: DataFrame, query: DataFrame, metric: Metric, k: Int,
           idCol: String = "vec_id", embCol: String = "embedding",
           scale: Int = 4): DataFrame = {
    // the single-query contract, enforced (the Quantize entry points'
    // guard, ported back to the oldest entry point): a multi-row query
    // frame would silently return ONE merged top-k with no qid column —
    // use topKBatch for query batches
    // take(2): one job that stops after 2 rows — limit(2).count() would
    // plan/schedule a full extra job per call on the hottest serve path
    val vec = query.select(col(embCol))
    val probe = vec.take(2)
    require(probe.length == 1,
      s"Knn.topK: query frame has ${if (probe.isEmpty) "no" else "more than one"} row — " +
        "this is the single-query serve shape; use Knn.topKBatch for batches")
    // typed as the query column, so the kernel reads it exactly as it
    // read the broadcast column
    val q = ColumnBridge.column(Literal.create(probe.head.get(0), vec.schema.head.dataType))
    corpus
      .select(col(idCol), round(metric.dist(col(embCol), q), scale).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** Batch KNN: top-k per query vector. Queries (small side) are broadcast
    * against the corpus; ranking is a window partitioned by query id — the
    * only shuffle is of (corpus × |queries|) scored pairs, pre-projected to
    * (qid, id, dist). At 1000-executor scale the corpus itself never moves.
    */
  def topKBatch(corpus: DataFrame, queries: DataFrame, metric: Metric, k: Int,
                idCol: String = "vec_id", embCol: String = "embedding",
                queryIdCol: String = "qid", scale: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol), col(embCol).as("__q_emb")))
    val scored = corpus.crossJoin(q)
      .select(col(queryIdCol), col(idCol),
        round(metric.dist(col(embCol), col("__q_emb")), scale).as("dist"))
    topPerQuery(scored, col("dist"), k, idCol, queryIdCol, "dist")
  }

  /** Per-query top-k by `order` (ties by id): `(qid, id, score, rn)`,
    * `rn` a long. The ranking tail of every batch search. */
  private[graft] def topPerQuery(scored: DataFrame, order: Column, k: Int, idCol: String,
                                 queryIdCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(queryIdCol)).orderBy(order, col(idCol))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col(queryIdCol), col(idCol), col(scoreCol), col("rn").cast("long").as("rn"))
  }
}
