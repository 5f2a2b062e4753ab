package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Probe-name resolution: no Spark session needed — resolving a name
  * builds nothing.
  */
class ProfileProbeSpec extends AnyFunSuite {

  test("shared-cache preps, the lake pipelines and registered queries resolve") {
    graft.operators.SharedCaches.entries.foreach { case (p, _) => ProfileProbe.resolve(p) }
    Seq("mv", "mj", "lake").foreach(ProfileProbe.resolve)
    graft.SparkEntry.queries.keys.foreach(ProfileProbe.resolve)
  }

  test("an unknown prep fails listing the valid prep names") {
    val e = intercept[IllegalArgumentException](ProfileProbe.resolve("prep_nope"))
    assert(e.getMessage.contains("prep_nope"), e.getMessage)
    graft.operators.SharedCaches.entries.foreach { case (p, _) =>
      assert(e.getMessage.contains(p), e.getMessage)
    }
  }

  test("an unknown query name fails naming it") {
    val e = intercept[IllegalArgumentException](ProfileProbe.resolve("q_nope"))
    assert(e.getMessage.contains("q_nope"), e.getMessage)
  }
}
