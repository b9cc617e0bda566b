package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The query catalog agrees with itself and with every list that names
  * its queries: each query is declared once, as one row under
  * `graft/catalog/`, and Bench, DumpPlans and the perfbench workloads
  * name only declared rows. */
class CatalogSpec extends AnyFunSuite {

  private val root = Paths.get("").toAbsolutePath
  private val catalogDir = root.resolve("src/main/scala/graft/catalog")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.list(catalogDir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  private val Declaration = """\b(?:query|captured)\("([a-z0-9_]+)"\)""".r

  private lazy val declared: Seq[String] =
    sources.flatMap { case (_, src) =>
      Declaration.findAllMatchIn(src).map(_.group(1)) }

  test("every query name is declared exactly once under graft/catalog/") {
    val twice = declared.groupBy(identity).collect {
      case (name, ds) if ds.size > 1 => name }
    assert(twice.isEmpty, s"declared more than once: $twice")
    assert(declared.size === 225)
    assert(declared.toSet === SparkEntry.queries.keySet)
  }

  test("the static oracles plus the captured rows are all 225 queries") {
    val (captured, static) = SparkEntry.rows.partition(_.captured)
    val staticKeys = static.filter(_.oracleSql.isDefined).map(_.name)
    assert(staticKeys.size === static.size, "a static row has no oracle")
    val all = staticKeys ++ captured.map(_.name)
    assert(all.size === 225)
    assert(all.toSet === SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("Bench's headline and DumpPlans' entries are catalog rows") {
    val names = Bench.headline ++ DumpPlans.entries.map(_._1)
    assert(names.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in the catalog: $unknown")
  }

  test("every query perfbench/workloads.json names is a catalog row") {
    // every string inside a JSON array in that file is a query name
    def names(n: JsonNode): Seq[String] =
      if (n.isArray) n.elements.asScala.toSeq.flatMap(e =>
        if (e.isTextual) Seq(e.asText) else names(e))
      else n.elements.asScala.toSeq.flatMap(names)
    val json = new ObjectMapper().readTree(
      root.resolve("perfbench/workloads.json").toFile)
    val all = names(json).distinct
    assert(all.contains("q5_supplier_volume"), s"name scan found only $all")
    val unknown = all.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in the catalog: $unknown")
  }

  /** A family that read another family's members while initializing
    * could deadlock against it on the JVM's class-initialization locks
    * when `Verify`'s threads first touch both; families share code
    * through `Shared` only. */
  test("no catalog object names a family but its own") {
    val families = sources.map(_._1.getFileName.toString.stripSuffix(".scala"))
      .filter(_.endsWith("Queries"))
    assert(families.size >= 8, s"family scan found only $families")
    val crossings = for {
      (path, src) <- sources
      self = path.getFileName.toString.stripSuffix(".scala")
      other <- families if other != self &&
        ("\\b" + other + "\\b").r.findFirstIn(src).nonEmpty
    } yield s"$self names $other"
    assert(crossings.isEmpty, crossings.mkString("; "))
  }
}
