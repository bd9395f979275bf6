package perfbench

/** Output checks against the generator's expectation. Each returns the
  * wrong outputs it found, empty when everything matched.
  */
object Check {

  /** Per-file verdicts and the released sample and variant sets of a
    * cold cycle; `released` is None when the release folder is missing.
    */
  def release(truth: Gen.CycleTruth, verdicts: Map[String, Boolean],
              released: Option[(Set[String], Set[(String, String, Long)])]): Seq[String] = {
    val verdictErrors = truth.verdicts.toSeq.sorted.collect {
      case (f, v) if !verdicts.get(f).contains(v) => s"verdict $f: got ${verdicts.get(f)}, expected $v"
    }
    val releaseErrors = released match {
      case None => Seq("release folder missing or unreadable")
      case Some((samples, variants)) =>
        val (es, ev) = (truth.releasedSamples, truth.releasedVariants)
        (if (samples == es) Nil
         else Seq(s"released samples: ${(samples -- es).size} extra, ${(es -- samples).size} missing")) ++
        (if (variants == ev) Nil
         else Seq(s"released variants: ${(variants -- ev).size} extra, ${(ev -- variants).size} missing"))
    }
    verdictErrors ++ releaseErrors
  }
}
