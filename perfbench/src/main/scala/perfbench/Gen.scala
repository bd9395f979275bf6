package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded input generator. Everything the pipeline receives is written
  * here from `seed` alone, and the generator records the outcome the
  * program must produce (per-file verdicts, released samples/variants,
  * the tables after a delta upload) without running the program.
  */
object Gen {

  /** Workload scale. The defaults are what the benchmark runs; the
    * self-tests shrink them. The corpus has the row counts of the
    * harness sf0.01 `documents` and `embeddings` tables (500 each): at
    * sf0.1's 5,000 and 2,000 the DuckDB oracle of `dedup_minhash_audit`
    * alone, quadratic in documents, outlasts a run's time limit.
    */
  final case class Scale(centers: Int = 2, patientsPerCenter: Int = 750,
                         variantsPerSample: Int = 60, panelRegions: Int = 160,
                         cnaSamplesPerCenter: Int = 40, cnaGenes: Int = 80,
                         vcfRows: Int = 1500, docs: Int = 500, vectors: Int = 500)

  val Tiny: Scale = Scale(centers = 3, patientsPerCenter = 12, variantsPerSample = 8,
    panelRegions = 12, cnaSamplesPerCenter = 4, cnaGenes = 6, vcfRows = 20,
    docs = 200, vectors = 200)

  /** Oncotree codes the release maps; `deprecatedCode` is absent from it. */
  val oncotreeCodes: Seq[(String, String, String)] = Seq(
    ("LUAD", "LUNG", "Non-Small Cell Lung Cancer"),
    ("BRCA", "BREAST", "Breast Cancer"),
    ("COAD", "BOWEL", "Colorectal Cancer"),
    ("PAAD", "PANCREAS", "Pancreatic Cancer"),
    ("SKCM", "SKIN", "Melanoma"),
    ("GBM", "BRAIN", "Glioma"))
  val deprecatedCode = "RETIREDX"

  /** Kinds that get one planted-invalid file per cycle (center by seed). */
  val plantedKinds: Seq[String] = Seq("maf", "vcf", "cna", "seg", "sv", "assay")

  // shares of samples / variants carrying each release-filter property
  val deprecatedShare = 0.05
  val cisSampleShare = 0.04
  val outOfPanelShare = 0.08
  val germlineShare = 0.06
  // delta upload: MAF rows updated / appended in a changed center
  val deltaUpdateShare = 0.02
  val deltaAppendShare = 0.01

  final case class Variant(sample: String, chrom: String, start: Long, ref: String,
                           alt: String, depth: Int, alt_count: Int, gnomad: String,
                           kind: String) {
    def key: (String, String, Long) = (sample, chrom, start)
    def line: String =
      s"GENE${start % 97}\t$chrom\t$start\t$start\t$ref\t$alt\t$sample\t$depth\t$alt_count\t$gnomad"
  }

  final case class Sample(id: String, patient: String, age: String, oncotree: String,
                          assay: String)

  final case class CenterTruth(center: String, assay: String, samples: Seq[Sample],
                               variants: Seq[Variant], cisSamples: Set[String],
                               invalidKinds: Set[String])

  /** Expected outcome of a cold cycle. */
  final case class CycleTruth(centers: Seq[CenterTruth], verdicts: Map[String, Boolean]) {
    def releasedSamples: Set[String] =
      centers.flatMap(_.samples).filter(_.oncotree != deprecatedCode).map(_.id).toSet
    def releasedVariants: Set[(String, String, Long)] = {
      val keep = releasedSamples
      centers.filterNot(_.invalidKinds("maf")).flatMap { c =>
        c.variants.filter(v => v.kind == "normal" || v.kind == "cis")
          .filterNot(v => c.cisSamples(v.sample))
          .filter(v => keep(v.sample)).map(_.key)
      }.toSet
    }
  }

  /** Expected tables after the delta upload. */
  final case class DeltaTruth(mafRows: Set[(String, String, Long, Int)],
                              clinicalAges: Map[String, String],
                              skipped: Set[String], changedCenters: Seq[String],
                              updatedRows: Int, appendedRows: Int, retractedSamples: Set[String])

  def centerName(i: Int): String = s"CTR${('A' + i).toChar}"

  private val bases = Array("A", "C", "G", "T")

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** Panel region i of an assay: 1 kb on chromosome 1..22, 20 kb apart. */
  private def regionStart(i: Int): Long = 100000L + i.toLong * 20000L
  private def regionChrom(i: Int): String = ((i % 22) + 1).toString

  /** Generate the cycle-1 upload tree under `root/<center>/` and return
    * the expected outcome.
    */
  def cycle(root: Path, seed: Long, sc: Scale): CycleTruth = {
    val rnd = new Random(seed)
    val centers = (0 until sc.centers).map(centerName)
    // one planted-invalid file per planted kind, each at a seeded center
    val planted: Map[String, String] =
      plantedKinds.map(k => k -> centers(rnd.nextInt(centers.size))).toMap
    var verdicts = Map.empty[String, Boolean]
    val truths = centers.map { c =>
      val invalid = planted.collect { case (k, cc) if cc == c => k }.toSet
      val dir = root.resolve(c)
      val assay = s"$c-P1"
      // ---- clinical pair ----
      val patients = (1 to sc.patientsPerCenter).map(i => f"GENIE-$c-$i%05d")
      val samples = patients.flatMap { p =>
        val n = if (rnd.nextDouble() < 0.1) 2 else 1
        (1 to n).map { j =>
          val code =
            if (rnd.nextDouble() < deprecatedShare) deprecatedCode
            else oncotreeCodes(rnd.nextInt(oncotreeCodes.size))._1
          val age = if (rnd.nextDouble() < 0.03) ">32485" else (7000 + rnd.nextInt(25000)).toString
          Sample(s"$p-$j", p, age, code, assay)
        }
      }
      write(dir.resolve(s"data_clinical_supp_sample_$c.txt"), sampleFile(samples))
      val races = Seq("White", "Black", "Asian", "Other")
      val eth = Seq("Non-Spanish/non-Hispanic", "Spanish/Hispanic", "Unknown")
      write(dir.resolve(s"data_clinical_supp_patient_$c.txt"),
        ("PATIENT_ID\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR" +: patients.map { p =>
          s"$p\t${1 + rnd.nextInt(2)}\t${races(rnd.nextInt(races.size))}\t" +
            s"${eth(rnd.nextInt(eth.size))}\t${1930 + rnd.nextInt(70)}"
        }).mkString("", "\n", "\n"))
      verdicts += s"$c/data_clinical_supp_sample_$c.txt" -> true
      verdicts += s"$c/data_clinical_supp_patient_$c.txt" -> true

      // ---- MAF: distinct (region, slot) per sample keeps same-sample
      // variants >= 10 bp apart, so only planted pairs are in cis ----
      val slots = 96
      val cisSamples = samples.filter(_ => rnd.nextDouble() < cisSampleShare).map(_.id).toSet
      val variants = samples.flatMap { s =>
        val picks = Iterator.continually(rnd.nextInt(sc.panelRegions * slots)).distinct
          .take(sc.variantsPerSample).toVector
        val vs = picks.zipWithIndex.map { case (rs, k) =>
          val (r, slot) = (rs / slots, rs % slots)
          val roll = rnd.nextDouble()
          val kind =
            if (roll < outOfPanelShare) "out_of_panel"
            else if (roll < outOfPanelShare + germlineShare) "germline"
            else "normal"
          val start =
            if (kind == "out_of_panel") regionStart(r) + 5000 + 10L * slot
            else regionStart(r) + 20 + 10L * slot
          val ref = bases(rnd.nextInt(4))
          val alt = bases((bases.indexOf(ref) + 1 + rnd.nextInt(3)) % 4)
          val depth = 100 + rnd.nextInt(400)
          val ac = 5 + rnd.nextInt(depth / 2)
          val gnomad = if (kind == "germline") "0.01" else if (k % 3 == 0) "" else "0.00001"
          Variant(s.id, regionChrom(r), start, ref, alt, depth, ac, gnomad, kind)
        }
        if (!cisSamples(s.id)) vs
        else {
          // an in-panel partner 3 bp after the first normal variant, same VAF
          val anchor = vs.find(_.kind == "normal").getOrElse(vs.head.copy(kind = "normal"))
          val base = vs.map(v => if (v eq anchor) v.copy(kind = "normal") else v)
          base :+ anchor.copy(start = anchor.start + 3, kind = "cis",
            ref = anchor.alt, alt = anchor.ref)
        }
      }
      write(dir.resolve(s"data_mutations_extended_$c.txt"),
        mafFile(variants, invalid("maf")))
      verdicts += s"$c/data_mutations_extended_$c.txt" -> !invalid("maf")

      // ---- VCF ----
      val tumor = samples.head.id
      val vcfBody = (0 until sc.vcfRows).map { i =>
        val ref = bases(i % 4); val alt = bases((i + 1) % 4)
        val fmt = if (invalid("vcf") && i % 7 == 3) "" else "GT:AD"
        s"${(i % 22) + 1}\t${1000000 + i * 37}\t.\t$ref\t$alt\t50\tPASS\tDP=${20 + rnd.nextInt(80)}\t$fmt\t0/1:10,${rnd.nextInt(20)}"
      }
      write(dir.resolve(s"$c.vcf"),
        ("##fileformat=VCFv4.2" +: s"#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t$tumor" +: vcfBody)
          .mkString("", "\n", "\n"))
      verdicts += s"$c/$c.vcf" -> !invalid("vcf")

      // ---- BED panel: headerless; INCLUDE_IN_PANEL column ----
      write(dir.resolve(s"$assay.bed"), (0 until sc.panelRegions).map { r =>
        s"${regionChrom(r)}\t${regionStart(r)}\t${regionStart(r) + 1000}\tGENE$r\tTrue"
      }.mkString("", "\n", "\n"))
      verdicts += s"$c/$assay.bed" -> true

      // ---- CNA matrix (wide) ----
      val cnaSamples = samples.take(sc.cnaSamplesPerCenter).map(_.id)
      val cnaVals = Seq("-2", "-1", "0", "0", "0", "1", "2", "")
      write(dir.resolve(s"data_CNA_$c.txt"),
        (("Hugo_Symbol" +: cnaSamples).mkString("\t") +: (0 until sc.cnaGenes).map { g =>
          (s"GENE$g" +: cnaSamples.indices.map { j =>
            if (invalid("cna") && g == 1 && j == 0) "3" else cnaVals(rnd.nextInt(cnaVals.size))
          }).mkString("\t")
        }).mkString("", "\n", "\n"))
      verdicts += s"$c/data_CNA_$c.txt" -> !invalid("cna")

      // ---- SEG ----
      val segRows = cnaSamples.flatMap { s =>
        (0 until 8).map { k =>
          val st = 1000000L * (k + 1)
          val locStart = if (invalid("seg") && k == 2 && s == cnaSamples.head) s"$st.5" else st.toString
          s"$s\t${(k % 22) + 1}\t$locStart\t${st + 500000}\t${10 + rnd.nextInt(90)}\t" +
            String.format(java.util.Locale.ROOT, "%.4f", Double.box(rnd.nextDouble() - 0.5))
        }
      }
      write(dir.resolve(s"data_cna_hg19_$c.seg"),
        ("ID\tCHROM\tLOC.START\tLOC.END\tNUM.MARK\tSEG.MEAN" +: segRows).mkString("", "\n", "\n"))
      verdicts += s"$c/data_cna_hg19_$c.seg" -> !invalid("seg")

      // ---- SV ----
      val svRows = cnaSamples.take(math.max(1, cnaSamples.size / 2)).zipWithIndex.map { case (s, k) =>
        s"$s\tSOMATIC\tGENE${k % 7}\tGENE${(k + 3) % 7}"
      }
      val svAll = if (invalid("sv")) svRows :+ svRows.head else svRows
      write(dir.resolve("data_sv.txt"),
        ("SAMPLE_ID\tSV_STATUS\tSITE1_HUGO_SYMBOL\tSITE2_HUGO_SYMBOL" +: svAll).mkString("", "\n", "\n"))
      verdicts += s"$c/data_sv.txt" -> !invalid("sv")

      // ---- assay YAML ----
      val platform = if (invalid("assay")) "Nanopore" else "Illumina"
      write(dir.resolve("assay_information.yaml"),
        s"""$assay:
           |  assay_specific_info:
           |  - SEQ_ASSAY_ID: $assay
           |    alteration_types: [snv, small_indels]
           |    gene_padding: 10
           |    number_of_genes: ${sc.panelRegions}
           |    preservation_technique: [FFPE]
           |    coverage: [coding_exons]
           |    specimen_tumor_cellularity: '>10%'
           |  calling_strategy: tumor_only
           |  library_selection: Hybrid Selection
           |  library_strategy: Targeted Sequencing
           |  platform: $platform
           |  instrument_model: Illumina HiSeq 4000
           |  read_length: 100
           |  target_capture_kit: Agilent
           |""".stripMargin)
      verdicts += s"$c/assay_information.yaml" -> !invalid("assay")

      CenterTruth(c, assay, samples, variants, cisSamples, invalid)
    }
    CycleTruth(truths, verdicts)
  }

  def sampleFile(samples: Seq[Sample]): String =
    ("SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\tSEQ_ASSAY_ID" +:
      samples.map(s => s"${s.id}\t${s.patient}\t${s.age}\t${s.oncotree}\t1\t${s.assay}"))
      .mkString("", "\n", "\n")

  def mafFile(variants: Seq[Variant], plantInvalid: Boolean): String = {
    val header = "Hugo_Symbol\tChromosome\tStart_Position\tEnd_Position\tReference_Allele\t" +
      "Tumor_Seq_Allele2\tTumor_Sample_Barcode\tt_depth\tt_alt_count\tgnomAD_AF"
    val lines = variants.zipWithIndex.map { case (v, i) =>
      if (plantInvalid && i % 500 == 7) v.copy(chrom = "23").line else v.line
    }
    (header +: lines).mkString("", "\n", "\n")
  }

  /** Second upload: every file is copied byte-identical except in the
    * changed centers, whose MAF gets row updates + appends; the first
    * changed center also updates a few clinical rows and retracts
    * samples and patients.
    */
  def delta(cycle1: Path, root: Path, seed: Long, truth: CycleTruth): DeltaTruth = {
    val rnd = new Random(seed * 31 + 7)
    val eligible = truth.centers.filterNot(_.invalidKinds("maf"))
    // all but one center re-upload unchanged
    val changed = rnd.shuffle(eligible).take(math.max(1, truth.centers.size - 1)).sortBy(_.center)
    val retractCenter = changed.head
    var mafRows = Set.empty[(String, String, Long, Int)]
    var ages = Map.empty[String, String]
    var skipped = Set.empty[String]
    var updated = 0
    var appended = 0
    var retracted = Set.empty[String]
    truth.centers.foreach { ct =>
      val c = ct.center
      val src = cycle1.resolve(c)
      val dst = root.resolve(c)
      Files.createDirectories(dst)
      val files = Files.list(src)
      try files.forEach(p => Files.copy(p, dst.resolve(p.getFileName))) finally files.close()
      val isChanged = changed.exists(_.center == c)
      var variants = ct.variants
      if (isChanged) {
        val n = variants.size
        val upd = rnd.shuffle(variants.indices.toVector).take((n * deltaUpdateShare).toInt).toSet
        variants = variants.zipWithIndex.map { case (v, i) =>
          if (upd(i)) v.copy(alt_count = v.alt_count + 1) else v
        }
        updated += upd.size
        // appended rows sit past every generated slot: new positions
        val extra = (0 until (n * deltaAppendShare).toInt).map { k =>
          val s = ct.samples(rnd.nextInt(ct.samples.size))
          Variant(s.id, "1", 90000L + 10L * k, "A", "C", 200, 40, "", "normal")
        }
        appended += extra.size
        variants = variants ++ extra
        Files.write(dst.resolve(s"data_mutations_extended_$c.txt"),
          mafFile(variants, plantInvalid = false).getBytes(UTF_8))
      } else if (!ct.invalidKinds("maf")) skipped += s"data_mutations_extended_$c.txt"

      var samples = ct.samples
      if (c == retractCenter.center) {
        val changedIds = rnd.shuffle(samples.map(_.id)).take(5).toSet
        samples = samples.map(s => if (changedIds(s.id)) s.copy(age = "20000") else s)
        Files.write(dst.resolve(s"data_clinical_supp_sample_$c.txt"), sampleFile(samples).getBytes(UTF_8))
        val sRet = rnd.shuffle(samples.map(_.id)).take(5)
        val pRet = rnd.shuffle(samples.map(_.patient).distinct).take(3)
        Files.write(dst.resolve("sampleRetraction.csv"), sRet.mkString("", "\n", "\n").getBytes(UTF_8))
        Files.write(dst.resolve("patientRetraction.csv"), pRet.mkString("", "\n", "\n").getBytes(UTF_8))
        retracted = sRet.toSet ++ samples.filter(s => pRet.contains(s.patient)).map(_.id)
      } else {
        skipped ++= Set(s"data_clinical_supp_sample_$c.txt", s"data_clinical_supp_patient_$c.txt")
      }
      samples.foreach(s => ages += s.id -> s.age)
      if (!ct.invalidKinds("maf"))
        mafRows ++= variants.map(v => (v.sample, v.chrom, v.start, v.alt_count))
    }
    DeltaTruth(
      mafRows.filterNot(r => retracted(r._1)),
      ages -- retracted, skipped, changed.map(_.center), updated, appended, retracted)
  }

  // ---------------------------------------------------------------- corpus

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part", "big",
    "sort", "query", "fast", "the")
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  val nearDupShare = 0.05
  val vectorDupShare = 0.05

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)

  /** `documents` + `embeddings` rows in the harness schema (10 to 100
    * tokens per text, as in sf0.1): near-dup
    * documents copy an earlier text with one token changed and a "dup"
    * marker; near-dup vectors copy an earlier vector with small noise;
    * the rest cluster around ten label centroids.
    */
  def corpus(seed: Long, sc: Scale): (Seq[Doc], Seq[Vec]) = {
    val rnd = new Random(seed * 131 + 3)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until sc.docs).foreach { i =>
      val text =
        if (i > 10 && rnd.nextDouble() < nearDupShare) {
          val toks = docs(rnd.nextInt(docs.size)).text.split(' ').toBuffer
          toks(rnd.nextInt(toks.size)) = vocab(rnd.nextInt(vocab.size))
          (toks :+ "dup").mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      docs += Doc(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}")
    }
    val centroids = Array.fill(10)(Array.fill(64)((rnd.nextGaussian() * 0.12).toFloat))
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Vec]
    (0 until sc.vectors).foreach { i =>
      val (v, label) =
        if (i > 10 && rnd.nextDouble() < vectorDupShare) {
          val src = vecs(rnd.nextInt(vecs.size))
          (src.v.map(x => (x + rnd.nextGaussian() * 0.002).toFloat), src.label)
        } else {
          val l = rnd.nextInt(10)
          (centroids(l).map(x => (x + rnd.nextGaussian() * 0.08).toFloat), l)
        }
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      vecs += Vec(i.toLong, v.map(_ / norm), label)
    }
    (docs.toSeq, vecs.toSeq)
  }
}
