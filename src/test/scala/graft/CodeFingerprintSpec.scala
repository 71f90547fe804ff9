package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Staging

/** Pins the staleness-defense contract of the staged-stream code
  * fingerprint: the digest that keys staged stream outputs must cover
  * both `SparkEntry$` (the stream queries' closures) and every
  * `graft.streaming` class (where windowedCounts / purchaseClickPairs /
  * materialize* / the watermark choices live), so an EventStreams-only
  * transform edit recompiles to different bytecode → different
  * fingerprint → different staging key → honest re-run instead of
  * silently served pre-change output.
  */
class CodeFingerprintSpec extends AnyFunSuite {

  test("fingerprint parts cover SparkEntry AND the streaming package " +
    "with real bytecode") {
    val parts = Staging.fingerprintParts
    val byName = parts.toMap
    assert(byName.contains("graft/SparkEntry$.class"))
    assert(byName("graft/SparkEntry$.class").nonEmpty)
    val streaming = parts.filter(_._1.startsWith("graft/streaming/"))
    assert(streaming.exists(_._1.contains("EventStreams")),
      s"streaming classes missing from fingerprint: ${parts.map(_._1)}")
    assert(streaming.forall(_._2.nonEmpty))
  }

  test("an EventStreams-only bytecode change changes the fingerprint " +
    "(and so the staging key)") {
    val parts = Staging.fingerprintParts
    val idx = parts.indexWhere(p =>
      p._1.startsWith("graft/streaming/") && p._2.nonEmpty)
    assert(idx >= 0)
    val mutated = parts.updated(idx, {
      val (n, b) = parts(idx)
      val c = b.clone(); c(c.length / 2) = (c(c.length / 2) ^ 0x01).toByte
      (n, c)
    })
    assert(Staging.fingerprintOf(parts) !=
      Staging.fingerprintOf(mutated))
  }

  test("fingerprint is deterministic and sensitive to a class RENAME") {
    val parts = Staging.fingerprintParts
    assert(Staging.fingerprintOf(parts) ==
      Staging.fingerprintOf(parts))
    val renamed = parts.updated(0, ("renamed.class", parts(0)._2))
    assert(Staging.fingerprintOf(parts) !=
      Staging.fingerprintOf(renamed))
  }
}
