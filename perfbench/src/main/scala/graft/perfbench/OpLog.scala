package graft.perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded synthetic Hive op log plus the state it must produce.
  *
  * The generator emits op envelopes (the `Schemas.opEnvelope` JSON lines
  * the sync reads) block by block, and updates an in-memory model of the
  * expected sync state as it goes:
  *
  *  - posts: root comments keyed by (author, permlink), with the
  *    creation time (which pins the (year, month) partition) and the
  *    latest edit time (which wins);
  *  - voter sets: up/down voters per existing post;
  *  - last_active: the latest op time per account over comments
  *    (replies included), votes (kept or not) and account updates.
  *
  * Traffic is shaped so the model never depends on engine tie-breaks or
  * on where batch boundaries fall: a post is edited at most once per
  * block and never in its creation block, and votes target posts created
  * in an earlier block (or a post that never exists).
  */
final class OpLog(seed: Long, startEpochSec: Long, var secPerBlock: Long) {
  import OpLog._

  private val rnd = new SplittableRandom(seed)

  // model
  final class Post(val author: String, val permlink: String, val createdSec: Long,
                   val createdBlock: Long) {
    var lastSec: Long = createdSec
    val up = mutable.TreeSet.empty[String]
    val down = mutable.TreeSet.empty[String]
  }
  val posts = mutable.LinkedHashMap.empty[(String, String), Post]
  private val postList = mutable.ArrayBuffer.empty[Post]
  val lastActive = mutable.HashMap.empty[String, Long]
  val opCounts = mutable.LinkedHashMap("comment" -> 0L, "vote" -> 0L,
    "account_update" -> 0L, "custom_json" -> 0L)
  private var nextPermlink = 0L
  private var block = 0L
  private var clock = startEpochSec

  private def touch(name: String, sec: Long): Unit =
    if (lastActive.getOrElse(name, Long.MinValue) < sec) lastActive(name) = sec

  private def account(): String = s"u${rnd.nextInt(Accounts)}"

  /** Zipf-ranked pick among the posts created in the last seven days
    * (Hive's voting window) before the current block: rank r is drawn
    * with weight 1/r^1.1, r = 1 being the newest. */
  private def recentPost(): Option[Post] = {
    var hi = postList.length
    while (hi > 0 && postList(hi - 1).createdBlock >= block) hi -= 1
    var lo = hi
    while (lo > 0 && postList(lo - 1).createdSec >= clock - RecentSeconds) lo -= 1
    if (hi == lo) None else Some(postList(hi - zipfRank(hi - lo)))
  }

  private def zipfRank(n: Int): Int = {
    // inverse-CDF on the continuous approximation of 1/r^s, s = 1.1
    val s = 1.1
    val u = rnd.nextDouble()
    val hmax = (math.pow(n.toDouble, 1 - s) - 1) / (1 - s)
    val r = math.pow(u * hmax * (1 - s) + 1, 1 / (1 - s))
    math.min(n, math.max(1, r.toInt))
  }

  /** Emit `nBlocks` blocks of `opsPerBlock` ops each. The op kinds of the
    * whole range come in fixed counts (`kinds`), shuffled, so the cost of
    * a file depends on its size and the mix, not on the seed. */
  def blocks(nBlocks: Int, opsPerBlock: Int, mix: Mix): Iterator[String] = {
    val plan = kinds(nBlocks * opsPerBlock, mix)
    Iterator.range(0, nBlocks).flatMap { b =>
      block += 1
      clock += secPerBlock
      val sec = clock
      val ts = LocalDateTime.ofInstant(Instant.ofEpochSecond(sec), ZoneOffset.UTC).toString
      val editedThisBlock = mutable.HashSet.empty[(String, String)]
      Iterator.range(b * opsPerBlock, (b + 1) * opsPerBlock).map(i => op(plan(i), sec, ts, editedThisBlock))
    }
  }

  /** `n` op kinds in the shares of `mix` and of the comment and vote
    * splits, rounded to whole counts, in a seeded random order. */
  private def kinds(n: Int, mix: Mix): Array[Kind] = {
    def share(total: Int, f: Double) = math.round(total * f).toInt
    val comments = share(n, mix.comment)
    val votes = share(n, mix.vote)
    val updates = share(n, mix.accountUpdate)
    val replies = share(comments, ReplyShare)
    val edits = share(comments, EditShare)
    val ghosts = share(votes, GhostVoteShare)
    val downs = share(votes, DownVoteShare)
    val zeros = share(votes, ZeroVoteShare)
    val counts = Seq[(Kind, Int)](
      Reply -> replies, Edit -> edits, NewPost -> (comments - replies - edits),
      GhostVote -> ghosts, DownVote -> downs, ZeroVote -> zeros,
      UpVote -> (votes - ghosts - downs - zeros), AccountUpdate -> updates,
      CustomJson -> (n - comments - votes - updates))
    val out = counts.flatMap { case (k, c) => Seq.fill(c)(k) }.toArray
    for (i <- out.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
    }
    out
  }

  private def envelope(ts: String, opType: String, payload: String): String = {
    opCounts(opType) += 1
    s"""{"block_num":$block,"timestamp":"$ts","op_type":"$opType","payload":${str(payload)}}"""
  }

  private def op(kind: Kind, sec: Long, ts: String, edited: mutable.HashSet[(String, String)]): String =
    kind match {
      case Reply => reply(sec, ts)
      case Edit | NewPost => rootComment(kind == Edit, sec, ts, edited)
      case GhostVote => vote(sec, ts, 10000, ghost = true)
      case UpVote => vote(sec, ts, 10000, ghost = false)
      case DownVote => vote(sec, ts, -10000, ghost = false)
      case ZeroVote => vote(sec, ts, 0, ghost = false)
      case AccountUpdate => accountUpdate(sec, ts)
      case CustomJson => customJson(ts)
    }

  /** A reply: leaves the post pipeline, still bumps last_active. */
  private def reply(sec: Long, ts: String): String = {
    val author = account()
    val parent = recentPost()
    touch(author, sec)
    val (pa, pp) = parent.map(p => (p.author, p.permlink)).getOrElse((account(), "lost-parent"))
    envelope(ts, "comment", obj(
      "author" -> author, "permlink" -> s"re-${nextPermlink}x", "parent_author" -> pa,
      "parent_permlink" -> pp, "title" -> "", "body" -> body(short = true),
      "json_metadata" -> metadata()))
  }

  /** A root post: a re-post edit of a recent post when `edit` and one is
    * available (not created or edited in this block), else a new post. */
  private def rootComment(edit: Boolean, sec: Long, ts: String,
                          edited: mutable.HashSet[(String, String)]): String = {
    val title = words(3 + rnd.nextInt(8)).capitalize
    val editTarget =
      if (edit) recentPost().filter(p => p.createdBlock < block && !edited.contains((p.author, p.permlink)))
      else None
    val (author, permlink) = editTarget match {
      case Some(p) =>
        edited += ((p.author, p.permlink))
        p.lastSec = sec
        (p.author, p.permlink)
      case None =>
        val a = account()
        val pl = s"post-$seed-$nextPermlink"
        nextPermlink += 1
        val p = new Post(a, pl, sec, block)
        posts((a, pl)) = p
        postList += p
        (a, pl)
    }
    touch(author, sec)
    val community = if (rnd.nextDouble() < StockShare) "hive-118554" else tagWord()
    envelope(ts, "comment", obj(
      "author" -> author, "permlink" -> permlink, "parent_author" -> "",
      "parent_permlink" -> community, "title" -> title, "body" -> body(short = false),
      "json_metadata" -> metadata()))
  }

  private def vote(sec: Long, ts: String, w: Int, ghost: Boolean): String = {
    val voter = account()
    touch(voter, sec)
    val target = if (ghost) None else recentPost()
    val (author, permlink) = target match {
      case Some(p) =>
        (if (w > 0) p.up else p.down) += voter
        (p.author, p.permlink)
      case None => (account(), s"ghost-${rnd.nextInt(1 << 20)}")
    }
    envelope(ts, "vote", obj("voter" -> voter, "author" -> author, "permlink" -> permlink,
      "weight" -> w))
  }

  private def accountUpdate(sec: Long, ts: String): String = {
    val a = account()
    touch(a, sec)
    val profile = obj("profile" -> RawJson(obj("name" -> words(2),
      "about" -> words(6 + rnd.nextInt(10)), "location" -> tagWord(),
      "profile_image" -> s"https://images.example.com/p/${rnd.nextInt(1 << 24)}.png")))
    envelope(ts, "account_update", obj("account" -> a, "json_metadata" -> encodeMeta(profile)))
  }

  private def customJson(ts: String): String =
    envelope(ts, "custom_json", obj("id" -> (if (rnd.nextBoolean()) "follow" else "community"),
      "json" -> obj("what" -> Seq("blog"), "follower" -> account(), "following" -> account())))

  /** json_metadata with the malformations the repair path handles. */
  private def metadata(): String = {
    val tags = Seq.fill(1 + rnd.nextInt(5))(tagWord()) ++
      (if (rnd.nextDouble() < StockShare) Seq("hivestockimages") else Nil)
    val images = Seq.fill(rnd.nextInt(3))(imageUrl())
    encodeMeta(obj("tags" -> tags, "image" -> images, "app" -> "peakd/2024.1.1",
      "format" -> "markdown"))
  }

  private def encodeMeta(json: String): String = {
    val y = rnd.nextDouble()
    if (y < 0.70) json
    else if (y < 0.85) str(json)                 // double-encoded
    else if (y < 0.95) json.take(json.length / 2) // truncated, malformed
    else if (rnd.nextBoolean()) "" else "[]"
  }

  /** Markdown body: headers, emphasis, links, images (markdown and
    * HTML), quotes, lists, inline code and hashtags, with a heavy-tailed
    * length between a few hundred and several thousand characters. */
  private def body(short: Boolean): String = {
    val target =
      if (short) 40 + rnd.nextInt(300)
      else math.min(6000, math.max(200, math.exp(6.6 + 0.7 * gaussian()).toInt))
    val sb = new StringBuilder
    if (!short && rnd.nextBoolean()) sb.append("## ").append(words(3).capitalize).append("\n\n")
    while (sb.length < target) {
      rnd.nextInt(10) match {
        case 0 => sb.append(s"![${words(2)}](${imageUrl()})\n\n")
        case 1 => sb.append(s"""<center><img src="${imageUrl()}" alt="${words(1)}"></center>\n\n""")
        case 2 => sb.append(s"> ${words(8)}\n\n")
        case 3 => sb.append(s"- ${words(4)}\n- **${words(3)}**\n- ${words(5)}\n\n")
        case 4 => sb.append(s"${words(6)} [${words(2)}](https://example.com/${words(1)}/${rnd.nextInt(9999)}) ${words(5)}.\n\n")
        case _ =>
          sb.append(words(12 + rnd.nextInt(20)).capitalize)
            .append(s" *${words(2)}* and `${words(1)}` &amp; ${words(6)}.\n\n")
      }
    }
    sb.append(Seq.fill(1 + rnd.nextInt(4))("#" + tagWord()).mkString(" "))
    sb.toString
  }

  private def gaussian(): Double = {
    val u1 = math.max(1e-12, rnd.nextDouble()); val u2 = rnd.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
  private def words(n: Int): String = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
  private def tagWord(): String = Tags(rnd.nextInt(Tags.length))
  private def imageUrl(): String =
    s"https://files.example.com/${Tags(rnd.nextInt(Tags.length))}/${rnd.nextInt(1 << 24)}.jpg"
}

object OpLog {
  final case class Mix(comment: Double, vote: Double, accountUpdate: Double)

  /** What one op of the plan is; see `OpLog.kinds`. */
  sealed trait Kind
  case object Reply extends Kind
  case object Edit extends Kind
  case object NewPost extends Kind
  case object UpVote extends Kind
  case object DownVote extends Kind
  case object ZeroVote extends Kind
  case object GhostVote extends Kind
  case object AccountUpdate extends Kind
  case object CustomJson extends Kind

  val Accounts = 3000
  val RecentSeconds: Long = 7 * 86400L
  val ReplyShare = 0.35
  val EditShare = 0.15
  val StockShare = 0.05
  val GhostVoteShare = 0.03
  val DownVoteShare = 0.08
  val ZeroVoteShare = 0.04

  private val Syllables = Seq("ka", "lo", "mi", "ne", "ro", "sa", "tu", "vi", "xe", "zo",
    "ba", "de", "fi", "go", "hu", "ja", "ke", "li", "mo", "nu", "pa", "qi", "re", "si")
  private val Vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(7)
    IndexedSeq.fill(600)(Seq.fill(1 + r.nextInt(3))(Syllables(r.nextInt(Syllables.length))).mkString)
  }
  private val Tags: IndexedSeq[String] = Vocab.take(80).map(_ + "life")

  /** A value already in JSON form (a nested object). */
  final case class RawJson(json: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case RawJson(j) => j
    case s: String => str(s)
    case i: Int => i.toString
    case seq: Seq[_] => seq.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
