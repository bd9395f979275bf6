package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.apps.{ProcessJob, ReleaseJob, ValidateCli}
import graft.formats._
import graft.sources.{Assay, Bed, Maf, Oncotree, Tsv, Vcf}

/** The GENIE pipeline composed from the program's public calls:
  * validate every upload, run each center's `ProcessJob` and commit its
  * tables the way `ProcessMain` does (tmp write, then swap), process
  * the other release inputs into tables, release, and build the
  * dashboard. Each call sits in a span named after its layer.
  */
final class Genie(spark: SparkSession, tr: Trace) {

  private def names(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  // ------------------------------------------------------------ validate

  /** Per-file verdicts (`<center>/<file>` -> valid), dispatched by
    * `ValidateCli.fileType` as `ValidateCli.run` does, with the read and
    * the rule battery as separate spans. This repeats `ValidateCli.run`'s
    * loop instead of calling it: `run` returns one Boolean per center,
    * with no per-file verdicts and no split between reading and rules.
    * `CheckSpec` checks that both agree on every center.
    */
  def validate(uploads: Path, centers: Seq[String]): Map[String, Boolean] =
    centers.flatMap { c =>
      val files = names(uploads.resolve(c))
      def byType(t: String) = files.find(f => ValidateCli.fileType(f.getFileName.toString) == t)
      val clinical = (byType("clinical_sample"), byType("clinical_patient")) match {
        case (Some(sp), Some(pp)) =>
          val ok = for {
            s <- tr.call("sources.read")(Tsv.readAllString(spark, sp.toString))
            p <- tr.call("sources.read")(Tsv.readAllString(spark, pp.toString))
            r <- tr.call("formats.validate")(ClinicalFormat.validate(s, p, c))
          } yield r.isValid
          val v = ok.getOrElse(false)
          Seq(s"$c/${sp.getFileName}" -> v, s"$c/${pp.getFileName}" -> v)
        case _ => Nil
      }
      val others = files.flatMap { f =>
        val name = f.getFileName.toString
        val path = f.toString
        def check(read: => DataFrame)(v: DataFrame => graft.rules.ValidationResult) =
          tr.call("sources.read")(read).flatMap(df => tr.call("formats.validate")(v(df).isValid))
        val verdict: Option[Option[Boolean]] = ValidateCli.fileType(name, c) match {
          case "maf" => Some(check(Maf.read(spark, path))(MafFormat.validate(_, c)))
          case "vcf" => Some(check(Vcf.read(spark, path))(Vcf.validate(_, c)))
          case "bed" => Some(tr.call("sources.read")(Bed.read(spark, path).count()).map(_ => true))
          case "seg" => Some(check(Tsv.readAllString(spark, path))(SegFormat.validate(_, c)))
          case "cna" => Some(check(Tsv.readAllString(spark, path))(CnaFormat.validate(_, c)))
          case "sv" => Some(check(Tsv.readAllString(spark, path))(SvFormat.validate(_, c)))
          case "assay" =>
            val text = new String(Files.readAllBytes(f), "UTF-8")
            Some(check(Assay.parse(spark, text))(AssayFormat.validate(_, c)))
          case _ => None
        }
        verdict.map(v => s"$c/$name" -> v.getOrElse(false))
      }
      clinical ++ others
    }.toMap

  // ------------------------------------------------------------- process

  private def conf = spark.sessionState.newHadoopConf()

  /** Replace tables under `state` the way `ProcessMain` does: write each
    * to a tmp path, then delete the old table and rename. Every tmp
    * write happens before the first swap: a table's plan may read
    * another table's current files (a patient retraction cascades into
    * the MAF through the clinical table), and `ProcessMain`'s
    * write-and-swap per table deletes them first. Each write forces its
    * table's plan and runs as a span of the layer that produced it.
    */
  def commitTables(state: Path, tables: Seq[(String, DataFrame, String)]): Unit = {
    val fs = new HPath(state.toString).getFileSystem(conf)
    tables.foreach { case (name, df, producer) =>
      tr.span(producer)(df.write.mode("overwrite").parquet(s"$state/tables/__tmp_$name"))
    }
    tables.foreach { case (name, _, _) =>
      val (tmp, dst) = (new HPath(s"$state/tables/__tmp_$name"), new HPath(s"$state/tables/$name"))
      if (fs.exists(dst)) fs.delete(dst, true)
      if (!fs.rename(tmp, dst)) throw new IllegalStateException(s"table swap failed for $name")
    }
  }

  def existingTables(state: Path): Map[String, DataFrame] = {
    val d = state.resolve("tables").toFile
    if (!d.exists()) Map.empty
    else d.listFiles().filter(f => f.isDirectory && !f.getName.startsWith("__tmp_"))
      .map(f => f.getName -> spark.read.parquet(f.getPath)).toMap
  }

  /** The `ProcessMain` state layout, one state dir per center:
    * `<root>/<center>/tables/<name>` and `<root>/<center>/file_status.parquet`.
    * A center's upsert diffs against its own rows, so a cold cycle has no
    * table to upsert into.
    */
  def centerState(root: Path, center: String): Path = root.resolve(center)

  def priorStatuses(state: Path): Seq[ProcessJob.FileStatus] = {
    val p = state.resolve("file_status.parquet")
    if (!Files.exists(p)) Nil
    else {
      import spark.implicits._
      spark.read.parquet(p.toString).as[ProcessJob.FileStatus].collect().toSeq
    }
  }

  final case class CenterRun(center: String, seconds: Double, skipped: Seq[String],
                             statuses: Seq[ProcessJob.FileStatus])

  /** One center's upload: `ProcessJob.run`, then the commit of its
    * tables and file statuses. The run's `seconds`, the center's
    * turnaround, covers those two calls alone.
    */
  def processCenter(uploads: Path, root: Path, center: String): Option[CenterRun] = {
    val dir = uploads.resolve(center)
    val state = centerState(root, center)
    val prior = priorStatuses(state)
    val existing = existingTables(state)
    val t0 = System.nanoTime()
    tr.call("apps.process_job")(ProcessJob.run(spark, center, dir.toString, prior, existing))
      .flatMap { res =>
        tr.call("sources.commit") {
          commitTables(state, res.tables.toSeq.sortBy(_._1).map { case (name, df) =>
            val producer =
              if (existing.contains(name) && (name == "clinical" || name == "maf")) "operators.upsert"
              else if (name == "clinical") "formats.process"
              else "sources.read"
            (name, df, producer)
          })
          import spark.implicits._
          res.statuses.toDF().write.mode("overwrite")
            .parquet(state.resolve("file_status.parquet").toString)
        }.map(_ => CenterRun(center, (System.nanoTime() - t0) / 1e9, res.skipped,
          res.statuses))
      }
  }

  /** Wall time of `ProcessJob.md5Of` over the files `ProcessJob.run`
    * hashes (the clinical pair, MAFs, retraction lists and workflow
    * notes). The program's own calls cannot be wrapped from outside, so
    * this repeats the same calls, outside any timed region.
    */
  def md5Seconds(uploads: Path, centers: Seq[String]): Double = {
    val hashed = Set("clinical_sample", "clinical_patient", "maf", "sampleRetraction",
      "patientRetraction", "workflow")
    val files = centers.flatMap { c =>
      names(uploads.resolve(c)).filter(f => hashed(ValidateCli.fileType(f.getFileName.toString, c)))
    }
    val t0 = System.nanoTime()
    files.foreach(f => ProcessJob.md5Of(f.toString))
    (System.nanoTime() - t0) / 1e9
  }

  /** CNA, SEG, SV, BED and assay files with a valid verdict become the
    * remaining release tables (`cna_long`, `seg`, `sv`, `bed`, `assay`).
    */
  def processReleaseInputs(uploads: Path, root: Path, centers: Seq[String],
                           verdicts: Map[String, Boolean]): Unit = {
    val state = root.resolve("consortium")
    def valid(kind: String): Seq[(String, Path)] = centers.flatMap { c =>
      names(uploads.resolve(c)).filter { f =>
        val n = f.getFileName.toString
        ValidateCli.fileType(n, c) == kind && verdicts.getOrElse(s"$c/$n", false)
      }.map(c -> _)
    }
    def union(dfs: Seq[DataFrame]): Option[DataFrame] =
      dfs.reduceOption(_.unionByName(_, allowMissingColumns = true))
    def commit(name: String, producer: String, df: Option[DataFrame]): Unit =
      df.foreach(d => tr.call("sources.commit")(commitTables(state, Seq((name, d, producer)))))

    val cnaLong = valid("cna").flatMap { case (_, f) =>
      tr.call("sources.read")(Tsv.readAllString(spark, f.toString)).flatMap { wide =>
        tr.call("formats.process")(
          CnaFormat.melt(wide).withColumn("VALUE", col("VALUE").cast("double")))
      }
    }
    val cnaMerged =
      if (cnaLong.isEmpty) None
      else tr.call("formats.process")(CnaFormat.mergeCenters(cnaLong))
    commit("cna_long", "formats.process", cnaMerged)
    commit("seg", "sources.read", union(valid("seg").flatMap { case (_, f) =>
      tr.call("sources.read")(Tsv.readAllString(spark, f.toString))
    }))
    commit("sv", "sources.read", union(valid("sv").flatMap { case (_, f) =>
      tr.call("sources.read")(Tsv.readAllString(spark, f.toString))
    }))
    commit("bed", "sources.read", union(valid("bed").flatMap { case (_, f) =>
      val assay = f.getFileName.toString.stripSuffix(".bed")
      tr.call("sources.read")(Bed.read(spark, f.toString).withColumn("SEQ_ASSAY_ID", lit(assay)))
    }))
    commit("assay", "sources.read", union(valid("assay").flatMap { case (_, f) =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      tr.call("sources.read")(Assay.exportView(Assay.parse(spark, text)))
    }))
  }

  // ------------------------------------------------------------- release

  /** All centers' rows of a `ProcessJob` table. */
  def centerUnion(root: Path, centers: Seq[String], name: String): DataFrame =
    centers.map(c => centerState(root, c).resolve(s"tables/$name"))
      .filter(Files.exists(_))
      .map(p => spark.read.parquet(p.toString))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  def oncotree: DataFrame = Oncotree.toDataFrame(spark,
    Gen.oncotreeCodes.map { case (code, primary, name) =>
      Oncotree.Node(code, primary, "", name, name)
    })

  /** Release from the committed tables: filters (staged as parquet),
    * the full cBioPortal release folder, and the dashboard.
    */
  def release(root: Path, centers: Seq[String], out: Path): Unit = {
    def t(name: String) = spark.read.parquet(root.resolve(s"consortium/tables/$name").toString)
    val clinical = centerUnion(root, centers, "clinical")
    val maf = centerUnion(root, centers, "maf")
      .withColumn("START_POSITION", col("START_POSITION").cast("long"))
      .withColumn("END_POSITION", col("END_POSITION").cast("long"))
      .withColumn("T_DEPTH", col("T_DEPTH").cast("double"))
      .withColumn("T_ALT_COUNT", col("T_ALT_COUNT").cast("double"))
      .withColumn("GNOMAD_AF", col("GNOMAD_AF").cast("double"))
      .join(clinical.select(col("SAMPLE_ID").as("TUMOR_SAMPLE_BARCODE"), col("SEQ_ASSAY_ID")),
        Seq("TUMOR_SAMPLE_BARCODE"))
    val bed = t("bed")
    val assay = t("assay")
    import spark.implicits._
    val whitelist = Seq(("22", 5000L, 5100L)).toDF("CHROMOSOME", "START_POSITION", "END_POSITION")
    val staging = out.resolve("staging").toString
    val filtered = tr.call("release.filters") {
      val r = ReleaseJob.run(ReleaseJob.ReleaseInputs(clinical, maf,
        bed.select("SEQ_ASSAY_ID", "CHROMOSOME", "START_POSITION", "END_POSITION"),
        assay.select(col("SEQ_ASSAY_ID"), col("GENE_PADDING")), oncotree, whitelist))
      r.clinical.write.mode("overwrite").parquet(s"$staging/clinical")
      r.maf.write.mode("overwrite").parquet(s"$staging/maf")
      r.droppedSamples.write.mode("overwrite").parquet(s"$staging/dropped")
      ReleaseJob.ReleaseOutputs(spark.read.parquet(s"$staging/clinical"),
        spark.read.parquet(s"$staging/maf"), spark.read.parquet(s"$staging/dropped"))
    }
    filtered.foreach { r =>
      val keep = r.clinical.select("SAMPLE_ID")
      def kept(df: DataFrame, idCol: String) =
        df.join(broadcast(keep.withColumnRenamed("SAMPLE_ID", idCol)), Seq(idCol), "left_semi")
      tr.call("release.sinks") {
        ReleaseJob.writeFullRelease(ReleaseJob.FullReleaseInputs(
          clinicalSample = r.clinical.select("SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT",
            "ONCOTREE_CODE", "CANCER_TYPE", "SAMPLE_TYPE", "SEQ_ASSAY_ID"),
          clinicalPatient = r.clinical.select("PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY",
            "BIRTH_YEAR").dropDuplicates("PATIENT_ID"),
          maf = r.maf, cnaLong = kept(t("cna_long"), "SAMPLE_ID"), seg = kept(t("seg"), "ID"),
          sv = kept(t("sv"), "SAMPLE_ID"), bed = bed, assayInfo = assay),
          out.resolve("release").toString, "genie_bench", "1.0-consortium")
      }
      tr.call("stats.dashboard") {
        ReleaseJob.writeDashboardWiki(r, out.toString, "1.0-consortium")
        val withCenter = r.clinical.withColumn("CENTER", split(col("SAMPLE_ID"), "-").getItem(1))
        graft.stats.Dashboard.countsPerCenter(withCenter, "CENTER", "SAMPLE_ID").collect()
        graft.stats.Dashboard.completeness(r.clinical,
          Seq("PRIMARY_RACE", "ETHNICITY", "SEX", "BIRTH_YEAR")).collect()
        graft.stats.Dashboard.crosstab(withCenter, "ONCOTREE_CODE", "CENTER",
          withCenter.select("CENTER").distinct().as[String].collect().sorted.toSeq).collect()
      }
    }
  }

  /** Released sample ids and (barcode, chromosome, start) variant keys,
    * read back from the release folder's text artifacts.
    */
  def releasedSets(out: Path): (Set[String], Set[(String, String, Long)]) = {
    val dir = out.resolve("release/Release 1/1.0-consortium")
    def rows(file: String): (Array[String], Iterator[Array[String]]) = {
      val lines = Files.readAllLines(dir.resolve(file)).asScala.iterator.filterNot(_.startsWith("#"))
      val header = lines.next().split("\t", -1)
      (header, lines.filter(_.nonEmpty).map(_.split("\t", -1)))
    }
    val (sh, srows) = rows("data_clinical_sample.txt")
    val sid = sh.indexOf("SAMPLE_ID")
    val samples = srows.map(_(sid)).toSet
    val (mh, mrows) = rows("data_mutations_extended.txt")
    val (b, c, s) = (mh.indexOf("TUMOR_SAMPLE_BARCODE"), mh.indexOf("CHROMOSOME"), mh.indexOf("START_POSITION"))
    val variants = mrows.map(r => (r(b), r(c), r(s).toLong)).toSet
    (samples, variants)
  }
}
