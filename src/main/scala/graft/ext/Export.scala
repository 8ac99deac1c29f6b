package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sharded training-corpus export (§2c extension): deterministic
  * hash-assignment of documents to a fixed number of output shards,
  * a per-shard MANIFEST (docs / tokens / bytes / content checksum)
  * that any engine can recompute from the landed files, and a seeded
  * within-shard training order.
  *
  * Why not `df.randomSplit` / `spark.write` alone: a training-data
  * export must be (a) reproducible — the same corpus always lands in
  * the same shard layout regardless of partitioning or cluster size,
  * (b) auditable — a manifest any engine can recompute and compare
  * byte-for-byte, and (c) self-describing — shard counts and
  * checksums travel WITH the data. Shard assignment is a pure
  * function of the row id (md5, like [[Sampling]]'s split
  * assignment), the checksum is an order-insensitive XOR of a
  * 60-bit content hash — commutative, so it needs no global sort
  * and no single reducer.
  *
  * Scale shape: assignment is a narrow codegen'd projection (no
  * shuffle); the manifest is one partial-aggregated groupBy on a
  * small key domain (nShards rows out). At 100 TB you'd raise
  * nShards to keep shards at file-system-friendly sizes.
  */
object Export {

  /** 60-bit integer view of an md5: first 15 hex chars as a long.
    * Cross-engine replayable — DuckDB: `('0x' || substr(md5(x),1,15))::BIGINT`.
    * 60 bits keeps the value comfortably positive in a signed 64-bit
    * long in every engine (no sign-bit edge cases).
    */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Deterministic shard of an id: `md5(id || salt)` folded to 60 bits,
    * mod nShards. Null ids RAISE ([[Sampling]]'s total-function rule:
    * silently routing null-id rows to one shard corrupts the export).
    * Modulo bias over a 60-bit base is ≤ nShards/2^60 — immaterial.
    */
  def shardOf(id: Column, nShards: Int, salt: String = "graft"): Column = {
    require(nShards > 0, "shardOf: nShards must be positive")
    when(id.isNull, raise_error(lit(
      "Export: null id — shard assignment must be a total function of the row")))
      .otherwise(md5Long60(concat(id.cast("string"), lit(salt))) % nShards)
  }

  /** Per-document 60-bit content hash: md5 of `id || ':' || content`.
    * Binding the id in makes the checksum detect id↔content swaps, not
    * just content-set changes.
    */
  def contentHash(id: Column, content: Column): Column =
    md5Long60(concat(id.cast("string"), lit(":"), content))

  /** The manifest: one row per shard —
    * `(shard, n_docs, n_tokens, n_bytes, checksum)`. Tokens are the
    * repo's whitespace tokens ([[TextOps.tokens]]) unless the caller
    * plugs a `tokenCount` expression (same seam as packing); bytes are
    * UTF-8 `octet_length`; checksum is `bit_xor` of [[contentHash]] —
    * order-insensitive and overflow-free, so two manifests are
    * comparable with plain equality.
    */
  def shardManifest(docs: DataFrame, nShards: Int,
                    idCol: String = "doc_id", textCol: String = "text",
                    salt: String = "graft",
                    tokenCount: Option[Column] = None): DataFrame =
    docs
      .select(
        shardOf(col(idCol), nShards, salt).as("shard"),
        tokenCount.getOrElse(size(TextOps.tokens(col(textCol)))).cast("long").as("__ntok"),
        octet_length(col(textCol)).cast("long").as("__nbytes"),
        contentHash(col(idCol), col(textCol)).as("__h"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        sum(col("__nbytes")).as("n_bytes"),
        expr("bit_xor(__h)").as("checksum"))

  /** Deterministic SEEDED GLOBAL SHUFFLE for training order: every row
    * gets a `shard` and a dense within-shard position `seq`, both pure
    * functions of (seed, id) — the reshuffle-between-epochs /
    * reproduce-a-run primitive a training dataloader needs from the
    * corpus side. One 60-bit seeded hash ([[md5Long60]]) drives both:
    * `shard = ord % nShards` (uniform, so shards stay balanced) and
    * the within-shard order is `ord` ascending (uniformly random;
    * ties broken by id for a total order). Reading shard files in
    * `seq` order IS the global shuffle — no coordination at load
    * time, and a different `seed` is a fresh epoch-level permutation.
    *
    * Scale shape: NO global sort (the naive `orderBy(rand())` is a
    * full range-partitioned TeraSort) — one hash exchange on `shard`
    * plus an in-partition sort under the window; each shard lands in
    * one task, so pick `nShards` for target shard sizes. Null ids
    * RAISE ([[shardOf]]'s total-function rule). Exact-oracled: md5 +
    * modulo + row_number replay verbatim in DuckDB (q139).
    */
  def trainingOrder(docs: DataFrame, nShards: Int, seed: String = "graft",
                    idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "trainingOrder: nShards must be positive")
    // the three output columns must not silently clobber caller data
    val clash = Seq("__ord", "shard", "seq").filter(docs.columns.contains)
    require(clash.isEmpty,
      s"trainingOrder: input already carries ${clash.mkString(", ")} — " +
        "rename or drop before ordering (the operator OWNS these columns)")
    val ord = when(col(idCol).isNull, raise_error(lit(
      "Export: null id — training order must be a total function of the row")))
      .otherwise(md5Long60(concat(lit(seed + ":"), col(idCol).cast("string"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__ord"), col(idCol))
    docs.withColumn("__ord", ord)
      .withColumn("shard", (col("__ord") % nShards).cast("long"))
      .withColumn("seq", (row_number().over(w) - 1).cast("long"))
      .drop("__ord")
  }

  /** One 60-bit seeded hash per (id, epoch) SAMPLE — the multi-epoch
    * twin of [[trainingOrder]]'s per-id hash: `seed:id:epoch` drives
    * the shard, so every epoch is automatically a FRESH permutation of
    * the corpus (the epoch index participates in the hash) without any
    * per-epoch seed bookkeeping.
    * Null ids/epochs RAISE (the total-function rule).
    */
  private def epochOrd(id: Column, epoch: Column, seed: String): Column =
    when(id.isNull || epoch.isNull, raise_error(lit(
      "Export: null id/epoch — epoch order must be a total function of the sample")))
      .otherwise(md5Long60(concat(lit(seed + ":"), id.cast("string"),
        lit(":"), epoch.cast("string"))))

  /** The epoch-aware manifest: one row per `(epoch, shard)` —
    * `(epoch, shard, n_docs, n_tokens, n_bytes, checksum)` over a
    * frame carrying the `epoch` column ([[graft.ext.Sampling
    * .materializeEpochs]] attaches it). The checksum binds the EPOCH
    * into the content hash (`md5(id:epoch:text)`), so two epochs of
    * the identical doc set still land distinct checksums — a loader
    * that replays epoch 1's files against epoch 0's manifest fails
    * loudly. Shard assignment is [[epochOrd]] modulo `nShards`.
    */
  def epochShardManifest(docs: DataFrame, nShards: Int,
                         idCol: String = "doc_id", textCol: String = "text",
                         seed: String = "graft",
                         tokenCount: Option[Column] = None): DataFrame = {
    require(nShards > 0, "epochShardManifest: nShards must be positive")
    require(docs.columns.contains("epoch"),
      "epochShardManifest: input must carry the epoch column " +
        "(materializeEpochs attaches it)")
    docs
      .select(
        col("epoch").cast("long").as("epoch"),
        (epochOrd(col(idCol), col("epoch"), seed) % nShards).cast("long")
          .as("shard"),
        tokenCount.getOrElse(size(TextOps.tokens(col(textCol)))).cast("long")
          .as("__ntok"),
        octet_length(col(textCol)).cast("long").as("__nbytes"),
        contentHash(concat(col(idCol).cast("string"), lit(":"),
          col("epoch").cast("string")), col(textCol)).as("__h"))
      .groupBy("epoch", "shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        sum(col("__nbytes")).as("n_bytes"),
        expr("bit_xor(__h)").as("checksum"))
  }

  /** The packed multi-epoch bin frame (q163's input to
    * [[epochShardManifest]]): `(epoch, bin_key, packed_text, n_docs,
    * sum_tokens)` rows with `bin_key = keyCols:lane:bin_id` (unique
    * within an epoch), each `(epoch, keyCols..., lane)` packed
    * independently by [[graft.ext.TextOps.packSequencesText]].
    */
  def packedEpochBins(epochDocs: DataFrame, capacity: Int,
                      subShards: Int = 4,
                      keyCols: Seq[String] = Seq("lang"),
                      idCol: String = "doc_id", textCol: String = "text",
                      tokenCount: Option[Column] = None): DataFrame = {
    require(!epochDocs.columns.contains("bin_key"),
      "packedEpochBins: input already carries bin_key — rename or " +
        "drop (the operator OWNS this column)")
    val packed = TextOps.packSequencesText(epochDocs, capacity,
      shardCols = "epoch" +: keyCols, idCol, textCol, " ", tokenCount,
      subShards)
    val keyParts = (keyCols.map(col) ++
      (if (subShards > 1) Seq(col("lane")) else Nil) :+ col("bin_id"))
      .map(_.cast("string"))
    packed.withColumn("bin_key", concat_ws(":", keyParts: _*))
  }
}
