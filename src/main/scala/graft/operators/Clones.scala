package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exact-clone contraction every pair operator in [[NearDup]] and
  * [[SetSimJoin]] shares. `members` is (id, `__ck`, extras…), where `__ck`
  * keys a group of IDENTICAL sets (exact clones — the dominant duplication
  * mode in scraped corpora). The quadratic pair search runs over one
  * REPRESENTATIVE per group ([[reps]], the group's minimum id); every score
  * that search computes is a function of the set, so a representative
  * pair holds for every member pair of its two groups, and [[expand]]
  * turns it back into exactly those. Pairs inside one group come from
  * [[sameGroup]]. A group of g clones then costs g·pairs output rows
  * instead of g² candidate rows per shared key. (A `__ck` collision needs
  * two distinct sets at the same 64-bit hash — P ≈ n²/2⁶⁵, the risk the
  * shingle hashes already accept.)
  *
  * The caller keeps what is its own: the orientation of an expanded pair,
  * the payload of a pair inside a group, and its filters.
  */
private[operators] final class Clones(
    val members: DataFrame, id: String, val reps: DataFrame) {

  private val extras = members.columns.filterNot(c => c == id || c == "__ck").toSeq

  /** The members with the group key as `ck`, the id as `m<side>` and each
    * extra column suffixed `_<side>`.
    */
  private def side(ck: String, s: String): DataFrame =
    members.select(col("__ck").as(ck) +: col(id).as(s"m$s") +:
      extras.map(c => col(c).as(s"${c}_$s")): _*)

  /** Representative pairs (`a`, `b`, payload…) as member pairs
    * (payload…, ma, extras_a…, mb, extras_b…): every member of `a`'s group
    * against every member of `b`'s, in the representatives' order.
    */
  def expand(repPairs: DataFrame, a: String, b: String): DataFrame =
    repPairs
      .join(reps.select(col(id).as(a), col("__ck").as("cka")), a)
      .join(reps.select(col(id).as(b), col("__ck").as("ckb")), b)
      .join(side("cka", "a"), "cka")
      .join(side("ckb", "b"), "ckb")
      .drop(a, b, "cka", "ckb")

  /** Every ordered pair of members of one group, (`__ck`, ma, extras_a…,
    * mb, extras_b…), including ma = mb; the caller's filter picks the pairs.
    */
  def sameGroup: DataFrame = side("__ck", "a").join(side("__ck", "b"), "__ck")

  /** [[sameGroup]] carrying `perGroup`'s (`__ck`, payload…) row of each
    * group: the payload, computed once per group, meets both members.
    */
  def sameGroup(perGroup: DataFrame): DataFrame =
    perGroup.join(side("__ck", "a"), "__ck").join(side("__ck", "b"), "__ck")

  /** The unordered pairs inside each group, ma < mb. */
  def intra: DataFrame = sameGroup.filter(col("ma") < col("mb"))
}

private[operators] object Clones {

  /** Groups over `members`, represented by their minimum `id`. */
  def apply(members: DataFrame, id: String): Clones =
    new Clones(members, id, members.groupBy("__ck").agg(min(col(id)).as(id)))
}
