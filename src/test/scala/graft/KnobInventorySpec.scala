package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** The production option inventory: every JVM property and environment
  * variable the engine's production packages read, as one literal list.
  * A new option, or a renamed or removed one, fails here until the list
  * is edited, so every switch change shows up in review as an edit to
  * this file. Scanned: `operators`, `star`, `sources`, `queries`,
  * `functions`, `streaming`, `multimodal` and `GraftSession.scala`;
  * tool mains, Bench/Verify and the test filesystem are outside it. */
class KnobInventorySpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala/graft")

  private val scanned: Seq[Path] =
    Seq("operators", "star", "sources", "queries", "functions", "streaming", "multimodal")
      .flatMap { d =>
        val files = Files.walk(main.resolve(d))
        try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        finally files.close()
      }.sorted :+ main.resolve("GraftSession.scala")

  /** Any call that reads a property or the environment ... */
  private val read: Regex =
    """sys\.(?:env|props)\b|System\.get(?:Property|env)\b|(?:Boolean\.getBoolean|Long\.getLong|Integer\.getInteger)\b""".r

  /** ... and the same call with its name as a string literal. */
  private val literalRead: Regex =
    """(?:sys\.(?:env|props)(?:\.(?:get|getOrElse|contains))?|System\.get(?:Property|env)|Boolean\.getBoolean|Long\.getLong|Integer\.getInteger)\(\s*"([^"]+)"""".r

  /** Files whose reads take the name as an argument, with the helper
    * call that carries the literal names at each call site. */
  private val forwarders: Map[String, Regex] = Map(
    "operators/SignatureIndex.scala" -> """\blongKnob\(\s*"([^"]+)",\s*"([^"]+)"""".r,
    "operators/VersionedState.scala" -> """\bprop\(\s*"([^"]+)",\s*"([^"]+)"""".r,
    "sources/Secrets.scala" -> """\benv\.get\(\s*s?"([^"]+)"""".r)

  private val expected = Set(
    // GraftSession
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "derby.stream.error.file",
    // BatchLog fold manifests
    "graft.fold.manifest.disable", "graft.fold.manifest.mtimeTrustLagMs",
    // SignatureIndex fold layout (longKnob call sites)
    "graft.fold.min.rows", "SPARK_GRAFT_FOLD_MIN_ROWS",
    "graft.fold.group.bytes", "SPARK_GRAFT_FOLD_GROUP_BYTES",
    // VersionedState swaps
    "graft.swap.grace.ms", "SPARK_GRAFT_SWAP_GRACE_MS",
    "graft.swap.keep.versions", "SPARK_GRAFT_SWAP_KEEP_VERSIONS",
    // Secrets provider chain
    "GRAFT_DB_${name.toUpperCase}_JSON", "GRAFT_SECRETS_DIR",
    // StarBench main
    "SPARK_GRAFT_SF_DIR")

  /** Source text without its comment blocks and whole-line comments. */
  private def code(p: Path): String =
    Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)^\\s*//.*$", "")

  private def rel(p: Path): String = main.relativize(p).toString

  test("the production packages read exactly the inventoried options") {
    val texts = scanned.map(p => rel(p) -> code(p))
    val direct = texts.flatMap { case (_, t) => literalRead.findAllMatchIn(t).map(_.group(1)) }
    val forwarding = texts.collect {
      case (f, t) if read.findAllMatchIn(t).exists(m =>
        literalRead.findPrefixMatchOf(t.substring(m.start)).isEmpty) => f
    }.toSet
    assert(forwarding == forwarders.keySet,
      "a read whose name is not a string literal needs its call sites listed in `forwarders`")
    val passed = texts.flatMap { case (f, t) =>
      forwarders.get(f).toSeq.flatMap(_.findAllMatchIn(t).flatMap(_.subgroups))
    }
    val found = (direct ++ passed).toSet
    val (added, gone) = (found -- expected, expected -- found)
    assert(added.isEmpty && gone.isEmpty,
      s"new: ${added.toSeq.sorted}; gone: ${gone.toSeq.sorted}")
  }
}
