package perfbench

import java.nio.file.Path

/** The inputs are a function of the seed alone. */
class GeneratorSpec extends BenchSpec {

  private def tree(seed: Long): Path = {
    val root = tmpDir(s"gen$seed")
    val truth = Gen.cycle(root.resolve("uploads1"), seed, Gen.Tiny)
    Gen.delta(root.resolve("uploads1"), root.resolve("uploads2"), seed, truth)
    Curation.writeCorpus(spark, root.resolve("corpus"), seed, Gen.Tiny)
    root
  }

  test("the same seed gives a byte-identical input tree; another seed a different one") {
    val a = treeDigest(tree(11))
    val b = treeDigest(tree(11))
    val c = treeDigest(tree(12))
    info(s"input tree digest, seed 11: $a")
    info(s"input tree digest, seed 12: $c")
    assert(a == b)
    assert(a != c)
  }

  test("planted shares are present in the generated truth") {
    val truth = Gen.cycle(tmpDir("shares"), 3, Gen.Scale())
    val vs = truth.centers.flatMap(_.variants)
    assert(truth.verdicts.values.count(!_) == Gen.plantedKinds.size)
    assert(vs.count(_.kind == "out_of_panel") > 0 && vs.count(_.kind == "germline") > 0)
    assert(truth.centers.exists(_.cisSamples.nonEmpty))
    assert(truth.releasedVariants.nonEmpty && truth.releasedVariants.size < vs.size)
  }
}
