package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.FitArtifacts

/** `FitArtifacts.memo` and `FitArtifacts.fingerprint`: the one in-JVM
  * memo every deterministic fit in `SparkEntry` goes through. */
class FitMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def misses: Long = FitArtifacts.stats.values.map(_.misses).sum

  test("fingerprint ignores row order and sees a same-size content swap") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val shuffled = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(3)
    val swapped = Seq((1L, "a"), (2L, "b"), (3L, "z")).toDF("id", "v")
    val fp = FitArtifacts.fingerprint(base, "id", "v")
    assert(fp._1 === 3L)
    assert(FitArtifacts.fingerprint(shuffled, "id", "v") === fp)
    val fpSwap = FitArtifacts.fingerprint(swapped, "id", "v")
    assert(fpSwap._1 === fp._1)
    assert(fpSwap._2 !== fp._2)
    // only the named columns count
    assert(FitArtifacts.fingerprint(swapped, "id") ===
      FitArtifacts.fingerprint(base, "id"))
  }

  test("a repeated key replays; a changed fingerprint fits again") {
    val runs = new AtomicInteger
    def fit(fp: (Long, Long)): String =
      FitArtifacts.memo("FitMemoSpec.replay", "dir", fp) {
        s"fit ${runs.incrementAndGet()}"
      }
    assert(fit((3L, 7L)) === "fit 1")
    assert(fit((3L, 7L)) === "fit 1")
    assert(runs.get === 1)
    assert(fit((3L, 8L)) === "fit 2")
    assert(fit((3L, 7L)) === "fit 1")
    val st = FitArtifacts.stats("FitMemoSpec.replay")
    assert((st.hits, st.misses) === ((2L, 2L)))
  }

  test("a fit that throws stores nothing and is retried") {
    val runs = new AtomicInteger
    def fit(): String = FitArtifacts.memo("FitMemoSpec.throws", "k") {
      if (runs.incrementAndGet() == 1) throw new IllegalStateException("x")
      "ok"
    }
    intercept[IllegalStateException](fit())
    assert(fit() === "ok")
    assert(fit() === "ok")
    assert(runs.get === 2)
  }

  test("a fit that looks up another memo entry completes") {
    val inner = FitArtifacts.memo("FitMemoSpec.outer", "k") {
      FitArtifacts.memo("FitMemoSpec.inner", "k")("inner") + "+outer"
    }
    assert(inner === "inner+outer")
    assert(FitArtifacts.memo("FitMemoSpec.inner", "k")("other") === "inner")
  }

  test("every memo-backed fit replays: two runs in one JVM agree and " +
       "the second fits nothing") {
    val consumers = Seq("q48_ann_ivf", "q280_label_propagation",
      "q292_pq_encode", "q373_ovr_multiclass", "q100_stream_running_totals",
      "q190_bpe_merges", "q359_unigram_train", "q374_unigram_prune",
      "q403_ada_stream_score", "q407_mcnemar", "q412_ovr_d6_betas")
    def run() = consumers.map(q => q -> SparkEntry.queries(q)(spark, sf)
      .collect().toSeq).toMap
    val first = run()
    assert(Set("kmFit", "lpa", "pqFit", "ovrBeta", "typedBatches",
      "bpeMerges", "unigramTrain", "unigramPruned", "adaFit", "smBeta",
      "ovrD6").subsetOf(FitArtifacts.stats.keySet))
    val m = misses
    val second = run()
    assert(misses === m)
    consumers.foreach { q =>
      assert(first(q).nonEmpty, q)
      assert(second(q) === first(q), q)
    }
  }
}
