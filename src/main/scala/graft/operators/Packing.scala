package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Token-budget shard packing — the "sequence packing" step of an LLM
  * training-data pipeline (SURVEY §2.3): documents are laid out in a
  * deterministic pseudo-random order (md5 of the id), token counts are
  * prefix-summed over that order, and each document lands in shard
  * `floor(tokens_before_doc / budget)` — contiguous shards of ≈budget
  * tokens each, engine-independent membership (re-runnable anywhere,
  * same shards).
  *
  * The global prefix sum is [[Prefix.runningSums]] over B hash buckets,
  * equal to the one global running sum ordered by (bucket, hash, id) that
  * the DuckDB oracle replays.
  */
object Packing {
  type Q = (SparkSession, String) => DataFrame

  /** Number of parallel prefix-sum buckets. Fixed (not data-dependent) so
    * shard membership is stable across cluster sizes. */
  val Buckets = 32

  /** Pack rows carrying `tokenCol` tokens into contiguous shards of at most
    * ~`budget` tokens (a document never splits; a shard may overflow by at
    * most one document — first-fit-in-fixed-order semantics). Returns the
    * input plus (_h, _bucket, _cum, shard). */
  def packShards(df: DataFrame, idCol: String, tokenCol: String,
      budget: Long): DataFrame = {
    require(budget >= 1, s"packShards: budget must be >= 1, got $budget")
    require(!df.columns.exists(Set("_h", "_bucket", "_cum", "shard")),
      "packShards: input must not carry reserved _h/_bucket/_cum/shard columns")
    val hashed = df
      .withColumn("_h", expr(CrossHash.h60Expr(idCol)))
      .withColumn("_bucket", (col("_h") % Buckets).cast("int"))
    Prefix.runningSums(hashed, Nil, "_bucket", Seq(col("_h"), col(idCol)),
        Seq(col(tokenCol) -> "_cum"))
      .withColumn("shard", expr(s"(_cum - $tokenCol) div ${budget}L"))
  }

  /** documents → 2048-token shards; per-shard doc count and token mass. */
  private val q74: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      expr("cast(size(filter(split(text, ' '), t -> t != '')) as bigint)")
        .as("n_tok"))
    packShards(docs, "doc_id", "n_tok", 2048L)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
      .orderBy(col("shard"))
  }

  /** Deterministic epoch shuffle — the REPRODUCIBLE global permutation a
    * training run orders its corpus by: position = rank under the
    * (md5(epoch:id), id) total order, emitted as a (shard, position)
    * manifest of fixed `rowsPerShard` shards. Seeding the hash with the
    * epoch gives every epoch an independent-looking but fully
    * deterministic order (re-runnable on any engine/cluster, byte-same
    * manifest — the property that makes a training run resumable and an
    * ablation comparable). Complements [[packShards]]: that bins by
    * TOKEN budget in one fixed order; this permutes BY EPOCH and bins by
    * row count.
    *
    * The global rank is a [[Prefix.runningSums]] of 1 in the same
    * bucketed order, identical to one global `row_number() OVER (ORDER BY
    * bucket, hash, id)` (the oracle's replay). */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
      rowsPerShard: Long): DataFrame = {
    require(rowsPerShard >= 1,
      s"epochShuffle: rowsPerShard must be >= 1, got $rowsPerShard")
    require(!df.columns.exists(Set("_h", "_bucket", "_rank", "shard", "pos")),
      "epochShuffle: input must not carry reserved _h/_bucket/_rank/shard/pos columns")
    val hashed = df
      .withColumn("_h", expr(CrossHash.h60Expr(
        s"concat('$epoch', ':', cast($idCol as string))")))
      .withColumn("_bucket", (col("_h") % Buckets).cast("int"))
    Prefix.runningSums(hashed, Nil, "_bucket", Seq(col("_h"), col(idCol)),
        Seq(lit(1L) -> "_rank"))
      .withColumn("shard", expr(s"(_rank - 1) div ${rowsPerShard}L"))
      .withColumn("pos", expr(s"(_rank - 1) % ${rowsPerShard}L"))
  }

  /** documents → the epoch-1 training order, 64-doc shards. */
  private val q243: Q = (s, d) =>
    epochShuffle(Tables.documents(s, d).select(col("doc_id")),
      "doc_id", epoch = 1, rowsPerShard = 64L)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))

  val queries: Map[String, Q] = Map(
    "q74_pack_shards" -> q74,
    "q243_epoch_shuffle" -> q243,
  )

  val oracles: Map[String, String] = Map(
    // The oracle replays the SAME layout as ONE global running sum ordered
    // by (bucket, hash, id) — the two-level Spark decomposition must land
    // every document in the identical shard or the hash gate fails.
    "q74_pack_shards" -> """
      WITH t AS (SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                        AS BIGINT) AS n_tok,
                   list_reduce(list_concat([CAST(0 AS BIGINT)],
                     list_transform(range(1, 16),
                       i -> CAST(strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)),
                                     CAST(i AS INT), 1)) - 1 AS BIGINT))),
                     (acc, c) -> acc * 16 + c) AS h
                 FROM documents),
      o AS (SELECT *, CAST(h % 32 AS INT) AS bucket FROM t),
      c AS (SELECT *, sum(n_tok) OVER (ORDER BY bucket, h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM o),
      s AS (SELECT CAST((cum - n_tok) // 2048 AS BIGINT) AS shard, n_tok
            FROM c)
      SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_sum
      FROM s GROUP BY shard ORDER BY shard""",
    // Replays epochShuffle as ONE global row_number over the identical
    // (bucket, hash, id) total order — the two-level Spark decomposition
    // must land every document at the identical (shard, pos).
    "q243_epoch_shuffle" -> s"""
      WITH t AS (SELECT doc_id,
                   ${CrossHash.h60DuckDb("concat('1', ':', CAST(doc_id AS VARCHAR))")} AS h
                 FROM documents),
      o AS (SELECT doc_id, h, CAST(h % 32 AS INT) AS bucket FROM t),
      r AS (SELECT doc_id,
                   row_number() OVER (ORDER BY bucket, h, doc_id) AS rk
            FROM o)
      SELECT doc_id, CAST((rk - 1) // 64 AS BIGINT) AS shard,
             CAST((rk - 1) % 64 AS BIGINT) AS pos
      FROM r ORDER BY doc_id""",
  )
}
