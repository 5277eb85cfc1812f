package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Canonical document keys (SURVEY.md §2.8 F1).
  *
  * The reference keys posts by `base64(xxhash64(author + "/" + permlink,
  * seed=0xCAFEBABE))` (reference handlers/comments.js:14-17,
  * handlers/votes.js:6-9). The engine standardizes on Spark's built-in
  * `xxhash64` (seed 42) over the same `author/permlink` string and keeps
  * the key as a LongType — a documented delta (SURVEY §7.4 #2): a 64-bit
  * long joins/groups faster than a base64 string and the key is only ever
  * compared for equality, never exchanged with the reference system.
  */
object Keys {

  /** 64-bit post key from (author, permlink). */
  def postKey(author: Column, permlink: Column): Column =
    xxhash64(concat_ws("/", author, permlink)).as("post_id")

  // (postKeyOfVote removed: it duplicated postKey with an unused voter
  // parameter and had no callers — Votes.keyed goes through postKey)

  /** Reference-bit-compatible document id: xxhash64 with the reference's
    * seed 0xCAFEBABE, base64 of the big-endian hash bytes — for the case
    * where ids must round-trip with an existing reference deployment
    * (SURVEY §7.4 #2's contained fallback; the canonical engine key
    * stays [[postKey]]).
    */
  def refCompatPostKeyBase64(author: Column, permlink: Column): Column = {
    val h = graft.catalyst.GraftFunctions.xxhash64Seeded(
      0xCAFEBABEL, concat_ws("/", author, permlink))
    base64(unhex(lpad(hex(h), 16, "0")))
  }
}
