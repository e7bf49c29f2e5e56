package graft

import graft.tools.ScaleTier

/** Invariants of the sf1-tier generator's per-copy text perturbation
  * (tools/ScaleTier.scala). The tier's scaling claims rest on these:
  * distinct targets make cross-copy token sets disjoint (pair-output-bound
  * joins grow ~K×, not K²×), and permutation targets keep `translate`
  * length-preserving so the fixture's `n_chars == length(text)` invariant
  * survives replication. The dup tier skips the perturbation, so there
  * every copy repeats copy 0's content under shifted ids.
  */
class ScaleTierSpec extends SparkSpec {
  test("copy 0 is the identity target (literal predicates keep original rows)") {
    assert(ScaleTier.targets.head == ScaleTier.alpha)
  }

  test("all thirty targets are pairwise distinct (no two copies share a text space)") {
    assert(ScaleTier.targets.size == 30)
    assert(ScaleTier.targets.distinct.size == ScaleTier.targets.size)
  }

  test("targets 0-9 are byte-identical to the pre-r17 rotation list (K<=10 tiers regenerate unchanged)") {
    val a = ScaleTier.alpha
    assert(ScaleTier.targets.take(10) == (0 until 10).map(c => a.drop(c) + a.take(c)))
  }

  test("every target is a permutation of the source alphabet (length-preserving, no char merging)") {
    ScaleTier.targets.foreach { t =>
      assert(t.sorted == ScaleTier.alpha.sorted, s"target $t is not a permutation")
    }
  }

  test("any two targets disagree on most positions (cross-copy shingle overlap stays near zero)") {
    // Within a rotation class: agreement is exactly 0 (all ten alphabet
    // chars distinct). Across classes, 0 everywhere is IMPOSSIBLE — two
    // full rotation classes always total 100 agreements over their 100
    // cross pairs, and a perfect 1-per-pair spread would need a complete
    // mapping of Z/10, which even-order cyclic groups lack (Hall–Paige) —
    // so the searched-for floor, max 2 of 10 positions, is the bound.
    // Two shared letter mappings cannot make two copies share a TOKEN
    // unless the token uses only those two alphabet letters; no fixture
    // token does.
    val ts = ScaleTier.targets
    for (i <- ts.indices; j <- ts.indices if i < j) {
      val agree = ts(i).zip(ts(j)).count { case (a, b) => a == b }
      val sameClass = i / 10 == j / 10
      if (sameClass)
        assert(agree == 0, s"targets $i/$j agree on $agree positions — rotations of distinct shift never coincide")
      else
        assert(agree <= 2, s"cross-class targets $i/$j agree on $agree positions — exceeds the searched floor")
    }
  }

  test("dup copies repeat copy 0 under shifted ids; tier copies 1-2 differ (K=3)") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, "lorem ipsum dolor")).toDF("doc_id", "text")
    val vecs = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0)), (2L, Seq(0.5, 0.0, -1.0, 2.0)))
      .toDF("vec_id", "embedding")
    val baseDocs = docs.as[(Long, String)].collect().toMap
    val baseVecs = vecs.as[(Long, Seq[Double])].collect().toMap
    /** copy -> (copy-0 id -> content), with the copy read off the id offset. */
    def copies[T](rows: Array[(Long, T)], off: Long): Map[Long, Map[Long, T]] =
      rows.groupBy(_._1 / off).map { case (c, rs) =>
        c -> rs.map { case (id, v) => (id - c * off) -> v }.toMap
      }
    def docCopies(dup: Boolean) =
      copies(ScaleTier.documents(docs, 3, dup).as[(Long, String)].collect(), ScaleTier.DOC)
    def vecCopies(dup: Boolean) =
      copies(ScaleTier.embeddings(vecs, 3, dup).as[(Long, Seq[Double])].collect(), ScaleTier.VEC)

    assert(docCopies(dup = true) == (0L to 2L).map(_ -> baseDocs).toMap)
    assert(vecCopies(dup = true) == (0L to 2L).map(_ -> baseVecs).toMap)

    val d = docCopies(dup = false)
    val v = vecCopies(dup = false)
    assert(d.keySet == Set(0L, 1L, 2L) && v.keySet == Set(0L, 1L, 2L))
    assert(d(0L) == baseDocs && v(0L) == baseVecs)
    for (c <- Seq(1L, 2L); id <- Seq(1L, 2L)) {
      assert(d(c)(id) != baseDocs(id), s"copy $c doc $id text unperturbed")
      assert(d(c)(id).length == baseDocs(id).length)
      assert(v(c)(id) != baseVecs(id), s"copy $c vec $id unrotated")
    }
  }
}
