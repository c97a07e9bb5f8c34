package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (SURVEY "Optimize for scale"):
  * classic salting — scatter the skewed (big) side across `salts`
  * sub-keys, replicate the small side once per salt, join on
  * (key, salt). Complements AQE skew-join splitting when a single key's
  * rows exceed what one task should own (e.g. a hot predicate or a
  * celebrity node in the quad table).
  */
object Skew {

  /** The row-count bound for a forced broadcast: a relation hinted into
    * a broadcast join should hold at most this many rows. Read by
    * [[saltedJoin]] (replicated small side) and by [[graft.GraftStore]]
    * (the store's insert/delete delta, which every read anti-joins as a
    * broadcast `LocalRelation`); the dedup drop lists in [[Dedup]] still
    * broadcast without it past the gate. The same bound caps the rows the
    * driver collects in one job: [[graft.io.Fetch]] (result rows),
    * [[graft.exec.PathExec]] (closures solved on the driver),
    * [[Dedup.dupClusters]] (near-dup components solved on the driver),
    * [[Dedup.minhashLshPairs]] (band keys bucketed and candidates
    * verified on the driver), [[Dedup.simhashPairs]] (signatures
    * bucketed on the driver) and [[Similarity.semdedupPairs]] (vectors
    * assigned and compared on the driver).
    */
  val BroadcastRowGate: Long = 1L << 17

  /** Deterministic uniform salt for a row (id-based, no rand()). */
  private def salt(salts: Int): Column =
    pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong))

  /** Equi-join `big ⋈ small` on `key` with the big side salted.
    * Result equals the plain join; the shuffle distributes each hot key
    * over `salts` reducers.
    *
    * Join strategy is SIZE-GATED (r13, guide §3.1), not forced: r12
    * hinted SHUFFLE_HASH unconditionally; for a genuinely tiny small
    * side a broadcast join is cheaper still (it has no reducers for a
    * hot key to skew — the big side streams through map tasks), so the
    * gate broadcasts small replicated sides and forces the shuffle join
    * only when the build side is genuinely large.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", salt(salts))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    // Row-count gate, not the byte estimate: explode keeps the child's
    // size estimate, and the file-size-based stats undercount the
    // materialized hash relation anyway (measured: a 1.2M-row ×8
    // replicated build chose broadcast under the 10MB byte gate and ran
    // 1.9 s vs 1.15 s for the shuffle join). The count is one cheap
    // metadata-scale action per call; at/below ~128k replicated rows the
    // broadcast build is trivially cheap and skips shuffling the big
    // side entirely (a broadcast join has no reducers for a hot key to
    // skew), above it the shuffle join that salting exists for wins.
    val replicatedRows = small.count() * salts
    val rightSide =
      if (replicatedRows <= BroadcastRowGate) broadcast(replicatedSmall)
      else replicatedSmall.hint("shuffle_hash")
    saltedBig.join(rightSide, Seq(key, "__salt")).drop("__salt")
  }
}
