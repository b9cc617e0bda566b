package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every entry point a developer can run is documented: each object
  * under `src/main/scala` that declares `def main` is named in
  * README.md by its full name (`graft.Bench`), and each file under
  * `scripts/` by its path (`scripts/check_oracle.py`). A main or script
  * that README does not name is either undocumented or unused; add it
  * to README's "Dev tooling" section or delete it. */
class RepoHygieneSpec extends AnyFunSuite {

  private val root = Paths.get("").toAbsolutePath
  private lazy val readme = Files.readString(root.resolve("README.md"))

  /** README names `name` as a whole token: `graft.Service` is not named
    * by `graft.ServiceLoadDrill`. */
  private def named(name: String): Boolean =
    ("\\Q" + name + "\\E(?!\\w)").r.findFirstIn(readme).nonEmpty

  private def files(dir: String): Seq[Path] = {
    val walk = Files.walk(root.resolve(dir))
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  private val Package = """(?m)^package\s+([\w.]+)""".r
  private val Object = """\bobject\s+(\w+)""".r
  private val Main = """\bdef\s+main\s*\(""".r

  /** Full names of the objects declaring `def main`: each main belongs
    * to the nearest `object` declared before it in its file. */
  private def mains(src: String): Seq[String] = {
    val pkg = Package.findFirstMatchIn(src).map(_.group(1) + ".")
      .getOrElse("")
    val objects = Object.findAllMatchIn(src).map(m => m.start -> m.group(1))
      .toSeq
    Main.findAllMatchIn(src).toSeq.flatMap(m =>
      objects.filter(_._1 < m.start).lastOption.map(pkg + _._2)).distinct
  }

  test("every main under src/main/scala is named in README.md") {
    val all = files("src/main/scala").filter(_.toString.endsWith(".scala"))
      .flatMap(p => mains(Files.readString(p)))
    assert(all.contains("graft.Bench"), s"main scan found only $all")
    val missing = all.filterNot(named)
    assert(missing.isEmpty, s"mains README.md does not name: $missing")
  }

  test("every file under scripts/ is named in README.md") {
    val all = files("scripts").map(p => root.relativize(p).toString)
    assert(all.nonEmpty)
    val missing = all.filterNot(named)
    assert(missing.isEmpty, s"scripts README.md does not name: $missing")
  }

  /** Expressions that call `ctx.addReferenceObj` themselves, as (file,
    * owning class) pairs. Everything else goes through the codegen
    * bridge, `VectorFunctions.EvalBridge`: the three text helpers take
    * a nullable input into a typed helper, BloomMightContain calls its
    * typed `mightContain`, and BoundLiteral binds a literal's value. */
  private val referenceObjOwners = Set(
    "VectorFunctions.scala" -> "EvalBridge",
    "VectorFunctions.scala" -> "TopTokenFrac",
    "VectorFunctions.scala" -> "WordBigrams",
    "VectorFunctions.scala" -> "WordShingles",
    "BloomJoin.scala" -> "BloomMightContain",
    "StableCodegen.scala" -> "BoundLiteral")

  private val Decl = ("""(?m)^\s*(?:(?:private|protected|final|sealed|""" +
    """abstract|case)(?:\[\w+\])?\s+)*(?:class|trait|object)\s+(\w+)""").r

  /** (file, owning class) of each match of `pattern` in the sources
    * under `src/main/scala`. */
  private def owners(pattern: String): Seq[(String, String)] =
    files("src/main/scala").filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        val decls = Decl.findAllMatchIn(src).map(m => m.start -> m.group(1))
          .toSeq
        pattern.r.findAllMatchIn(src).map(m =>
          p.getFileName.toString ->
            decls.filter(_._1 < m.start).lastOption.fold("")(_._2)).toSeq
      }

  test("addReferenceObj under src/main/scala is the bridge's or allowlisted") {
    val calls = owners("addReferenceObj")
    assert(calls.contains("VectorFunctions.scala" -> "EvalBridge"),
      s"owner scan found only $calls")
    val stray = calls.filterNot(referenceObjOwners)
    assert(stray.isEmpty, s"addReferenceObj outside the codegen bridge " +
      s"(extend UnaryEvalBridge or BinaryEvalBridge instead): $stray")
  }

  /** The operators' one cache policy is `Iterate.cached`, which
    * releases the cache when its scope exits, also on failure. The
    * Jaccard join rewrite persists at plan time and a listener releases
    * the frame after the query runs. */
  test(".persist( under src/main/scala is Iterate.cached's or the " +
      "Jaccard rewrite's") {
    val calls = owners("""\.persist\(""")
    val allowed = Seq("Iterate.scala" -> "Iterate",
      "GraftExtensions.scala" -> "RewriteJaccardThresholdJoin")
    assert(calls.sorted === allowed.sorted,
      "persist outside Iterate.cached (cache through it instead): " +
        calls.diff(allowed))
  }
}
