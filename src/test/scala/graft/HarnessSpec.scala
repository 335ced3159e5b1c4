package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Json

/** Guards the harness mains' shared pieces: the JSON string escaper,
  * Bench's output line, and the one session factory. */
class HarnessSpec extends AnyFunSuite {

  test("the JSON string escaper escapes quote, backslash and every control char") {
    assert(Json.str("") === "\"\"")
    assert(Json.str("a\"b\\c\nd\re\tf\u0001g\u001fh é") ===
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001fh é\"")
  }

  test("Bench's line: tier-1 keys, suffixed tier keys, totals without errors, escaped errors") {
    val tiers = Seq(Seq("a", "b"), Seq("c"))
    val cold = Map[String, Bench.Timing]("a" -> (1.5, None), "b" -> (0.25, None),
      "c" -> (2.0, Some("bad \"x\"\tline")))
    val warm = Map[String, Bench.Timing]("a" -> (0.5, None), "b" -> (0.125, Some("boom")),
      "c" -> (1.0, None))
    // the layout of the six-tier format string the table replaced, cut to two tiers
    assert(Bench.render(tiers, cold, warm, "/data/sf0.1") ===
      """{"metric":"total","value":0.5,"unit":"sec","mode":"warm-jvm-recomputed",""" +
      """"sink":"noop","queries":{"a":0.5,"b":0.125},"cold_value":1.75,""" +
      """"cold_queries":{"a":1.5,"b":0.25},"value2":1.0,"queries2":{"c":1.0},""" +
      """"cold_value2":0.0,"cold_queries2":{"c":2.0},"errors":{"b":"boom"},""" +
      """"cold_errors":{"c":"bad \"x\"\tline"},"n_errors":2,"sf":"/data/sf0.1"}""")
  }

  test("one session factory: only graft/core/Session.scala builds sessions or reads the cores variable") {
    // split literals, so this file is not a match itself
    val needles = Seq("SparkSession" + ".builder", "SPARK_GRAFT" + "_CPUS")
    val src = Paths.get("src")
    val hits = Using.resource(Files.walk(src))(_.iterator.asScala.filter(Files.isRegularFile(_))
      .filter(p => needles.exists(new String(Files.readAllBytes(p), UTF_8).contains))
      .map(p => src.relativize(p).toString).toSet)
    assert(hits === Set("main/scala/graft/core/Session.scala"))
  }
}
