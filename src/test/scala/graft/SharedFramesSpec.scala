package graft

import graft.ops.TextDedup

/** The shared-frame registry: one instance per (name, session, sfDir),
  * builds that nest, and no entry left by a build that throws. */
class SharedFramesSpec extends SparkSpec {
  private lazy val s1 = spark.newSession()

  test("a nested build (docGramsDistinct over docGrams8) returns the same instances on a second call") {
    val distinct = TextDedup.docGramsDistinct(s1, sf)
    val grams = TextDedup.docGrams8(s1, sf)
    assert(TextDedup.docGramsDistinct(s1, sf) eq distinct)
    assert(TextDedup.docGrams8(s1, sf) eq grams)
    assert(distinct.count() > 0L)
  }

  test("another session gets its own instances") {
    val s2 = spark.newSession()
    val d2 = TextDedup.docGramsDistinct(s2, sf)
    assert(d2 ne TextDedup.docGramsDistinct(s1, sf))
    assert(TextDedup.docGrams8(s2, sf) ne TextDedup.docGrams8(s1, sf))
    assert(TextDedup.docGramsDistinct(s2, sf) eq d2)
  }

  test("a build that throws leaves no entry, and the next call builds") {
    val s = spark.newSession()
    var builds = 0
    intercept[IllegalStateException] {
      SharedFrames.getOrBuild("spec.throws", s, sf) { builds += 1; throw new IllegalStateException("build failed") }
    }
    assert(SharedFrames.getOrBuild("spec.throws", s, sf) { builds += 1; 7 } == 7)
    assert(SharedFrames.getOrBuild("spec.throws", s, sf) { builds += 1; 8 } == 7)
    assert(builds == 2)
  }
}
