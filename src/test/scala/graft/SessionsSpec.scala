package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every engine session is built by [[Sessions.local]], which alone
  * registers the native SQL functions; and its settings let a deployed
  * `spark.master` win over the `local[cpus]` fallback. */
class SessionsSpec extends AnyFunSuite {

  private val factory = Paths.get("src/main/scala/graft/Sessions.scala")

  /** Scala files under `src/` whose text contains `needle`. The needles
    * are spliced at runtime so this file does not match itself. */
  private def filesContaining(needle: String): Set[Path] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .toSet
    finally walk.close()
  }

  test("only the factory builds a SparkSession") {
    assert(filesContaining("SparkSession" + ".builder") == Set(factory))
  }

  test("only the factory registers the native SQL functions") {
    assert(filesContaining("GraftExtensions" + ".register(") == Set(factory))
  }

  private val house = Map("spark.master" -> "local[3]",
    "spark.sql.shuffle.partitions" -> "3",
    "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false")

  test("a deployed spark.master wins; local[cpus] is the fallback") {
    assert(Sessions.settings(3, Map.empty, Nil) == house)
    val deployed = Map("spark.master" -> "spark://head:7077",
      "spark.sql.shuffle.partitions" -> "400")
    assert(Sessions.settings(3, deployed, Nil) == house -- deployed.keys)
  }

  test("caller extras override the house defaults") {
    val extra = Seq("spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.enabled" -> "false")
    assert(Sessions.settings(3, Map.empty, extra) == house ++ extra)
  }
}
