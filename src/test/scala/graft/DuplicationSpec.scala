package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source contract: a computation two declared queries share is written
  * once — an oracle CTE chain beside its Spark kernel, a shared Spark
  * block in one function of its module — not pasted into each query.
  *
  * The census is textual, so it sees the Spark side and the DuckDB
  * oracle strings alike:
  *  - every line of `src/main/scala` is whitespace-normalized (runs of
  *    whitespace become one space, ends trimmed);
  *  - blank lines and comment lines are dropped: a line starting with
  *    `//`, or lying in a block from a line starting with `/*` to the
  *    line holding its `*/`. An oracle line that begins with DuckDB's
  *    `//` division is dropped too; text alone cannot tell it apart;
  *  - a window is 6 consecutive remaining lines of one file holding at
  *    least 120 characters;
  *  - files are read in path order; each later copy of a window marks
  *    its 6 lines duplicated. A group is a maximal run of marked lines.
  *
  * A group may stay only where sharing would make the shared code branch
  * on which caller it serves; each such group is listed in `exempt` with
  * its reason.
  */
class DuplicationSpec extends AnyFunSuite {
  import DuplicationSpec._

  /** (file of the later copy, file of the first copy, first normalized
    * line of the group) -> why the group stays. */
  private val exempt: Map[(String, String, String), String] = Map(
    ("PortableWinnow.scala", "PortableShingles.scala", "package graft.catalyst") ->
      "package and import preamble; every file declares its own imports",
    ("JaroWinklerMicros.scala", "DamerauLevenshtein.scala", "package graft.catalyst") ->
      "package and import preamble; every file declares its own imports",
    ("StreamingRuns.scala", "StreamingDrift.scala",
      "implicit val outEnc: Encoder[(Long, Long, Long, Long)] =") ->
      "each streaming twin declares the encoders and key/order functions of its own row type",
    ("StreamingKmv.scala", "StreamingDrift.scala",
      "implicit val outEnc: Encoder[(Long, Long, Long, Long)] =") ->
      "each streaming twin declares the encoders and key/order functions of its own row type",
    ("SimHash64.scala", "ShingleHashes.scala", "var i = 0") ->
      ("SimHash64 votes on each token hash as it is made; sharing ShingleHashes' token loop " +
        "would buffer a hash array per document"),
    ("Dedup.scala", "ScaleOps.scala", "SELECT doc_id AS id,") ->
      ("q101's oracle drops empty documents inside its shingle CTE; sharing Dedup.shingleSetSql " +
        "would make it branch on that caller"))

  test("contract: no duplicated block under src/main/scala outside the exempt groups") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"source dir not found at ${root.getAbsolutePath}")
    val groups = census(root)
    val offenders = groups.filterNot(g => exempt.contains(g.key))
    assert(offenders.isEmpty,
      s"""${offenders.map(_.lines).sum} duplicated lines in ${offenders.size} groups;
         |share each block with its other copy, or add the group to this test's exempt
         |map with why sharing would make the shared code branch on its caller:
         |${offenders.map(_.describe).mkString("\n")}""".stripMargin)
    val stale = exempt.keySet -- groups.map(_.key)
    assert(stale.isEmpty, s"stale exempt entries (no such group): ${stale.mkString(", ")}")
  }
}

object DuplicationSpec {
  val Window = 6
  val MinChars = 120

  /** A run of duplicated lines in `file` (1-based source lines
    * `from`..`to`); its first window also occurs in `firstFile`. */
  final case class Group(file: String, from: Int, to: Int, lines: Int,
                         firstFile: String, firstLine: String) {
    def key: (String, String, String) = (file, firstFile, firstLine)
    def describe: String = s"  $file:$from-$to ($lines lines, first copy in $firstFile): $firstLine"
  }

  /** Normalized (source line number, text) of a file's code lines. */
  def normalize(text: String): IndexedSeq[(Int, String)] = {
    var inBlock = false
    text.split("\n", -1).toIndexedSeq.zipWithIndex.flatMap { case (raw, i) =>
      val s = raw.replaceAll("\\s+", " ").trim
      if (inBlock) {
        if (s.contains("*/")) inBlock = false
        None
      } else if (s.startsWith("/*")) {
        inBlock = !s.contains("*/")
        None
      } else if (s.isEmpty || s.startsWith("//")) None
      else Some((i + 1, s))
    }
  }

  def census(root: File): Seq[Group] = {
    def sources(d: File): Seq[File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
    val files = sources(root).filter(_.getName.endsWith(".scala")).sortBy(_.getPath)
    val norm = files.map(f =>
      f -> normalize(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)))
    val firstSeen = scala.collection.mutable.HashMap.empty[Seq[String], File]
    val marked = scala.collection.mutable.LinkedHashMap.empty[File, scala.collection.mutable.Map[Int, File]]
    for ((f, ls) <- norm; k <- 0 to ls.size - Window) {
      val win = ls.slice(k, k + Window).map(_._2)
      if (win.map(_.length).sum >= MinChars) firstSeen.get(win) match {
        case None => firstSeen(win) = f
        case Some(first) =>
          val m = marked.getOrElseUpdate(f, scala.collection.mutable.Map.empty[Int, File])
          (k until k + Window).foreach(j => if (!m.contains(j)) m(j) = first)
      }
    }
    norm.flatMap { case (f, ls) =>
      val m = marked.getOrElse(f, scala.collection.mutable.Map.empty[Int, File])
      val idx = m.keys.toSeq.sorted
      val runs = idx.foldLeft(List.empty[List[Int]]) {
        case (cur :: done, j) if cur.head == j - 1 => (j :: cur) :: done
        case (acc, j) => List(j) :: acc
      }.reverse.map(_.reverse)
      runs.map(r => Group(f.getName, ls(r.head)._1, ls(r.last)._1, r.size,
        m(r.head).getName, ls(r.head)._2))
    }
  }
}
