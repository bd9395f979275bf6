package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The curation lifecycle: a fixed sequence of `SparkEntry.queries`
  * over a generated `documents` + `embeddings` corpus, in one session.
  */
object Curation {

  /** One query per open item of the curation extension, in a fixed
    * order in one session: minhash candidate generation, the simhash
    * query phase, and the persisted index lifecycles that the
    * `IndexKind` collapse targets (digest, band, winnow and simhash
    * retraction; BM25 asOf). Four more of the slow tail
    * (`dedup_repeated_removal`, `agg_maintain_decontam`,
    * `sim_ivfpq_incremental`, `sim_knn_graph_lifecycle`) are left out so
    * that every run of every workload fits the benchmark's time budget.
    */
  val queryOrder: Seq[String] = Seq(
    "dedup_minhash_audit", "dedup_simhash_incremental", "dedup_retract",
    "text_bm25_asof")

  /** Write the corpus as `<dir>/documents.parquet` and
    * `<dir>/embeddings.parquet`, one file each with a fixed name.
    */
  def writeCorpus(spark: SparkSession, dir: Path, seed: Long, sc: Gen.Scale): Unit = {
    val (docs, vecs) = Gen.corpus(seed, sc)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    def single(rows: Seq[Row], schema: StructType, name: String): Unit = {
      val tmp = dir.resolve(s"__tmp_$name")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").option("compression", "snappy").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get() finally s.close()
      }
      Files.move(part, dir.resolve(s"$name.parquet"))
      canonicalizeFooter(dir.resolve(s"$name.parquet"))
      val s = Files.walk(tmp)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)) finally s.close()
    }
    Files.createDirectories(dir)
    single(docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), docSchema, "documents")
    single(vecs.map(v => Row(v.id, v.v.toSeq, v.label)), vecSchema, "embeddings")
  }

  /** The parquet writer lists each column's encodings from a hash set
    * of enums, whose order changes from one JVM to the next. Sorting
    * those lists (and the key-value metadata) in the footer makes the
    * file a function of its rows alone.
    */
  private def canonicalizeFooter(file: Path): Unit = {
    import org.apache.parquet.format.{Encoding, KeyValue, PageEncodingStats, Util}
    import scala.jdk.CollectionConverters._
    val bytes = Files.readAllBytes(file)
    val n = bytes.length
    val len = java.nio.ByteBuffer.wrap(bytes, n - 8, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val start = n - 8 - len
    val md = Util.readFileMetaData(new java.io.ByteArrayInputStream(bytes, start, len))
    md.getRow_groups.asScala.foreach(_.getColumns.asScala.foreach { cc =>
      val m = cc.getMeta_data
      m.setEncodings(m.getEncodings.asScala.sortBy((e: Encoding) => e.getValue).asJava)
      if (m.isSetEncoding_stats)
        m.setEncoding_stats(m.getEncoding_stats.asScala
          .sortBy((s: PageEncodingStats) => (s.getPage_type.getValue, s.getEncoding.getValue)).asJava)
    })
    if (md.isSetKey_value_metadata)
      md.setKey_value_metadata(md.getKey_value_metadata.asScala.sortBy((kv: KeyValue) => kv.getKey).asJava)
    val footer = new java.io.ByteArrayOutputStream()
    Util.writeFileMetaData(md, footer)
    val tail = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(footer.size()).put("PAR1".getBytes("US-ASCII")).array()
    Files.write(file, bytes.take(start) ++ footer.toByteArray ++ tail)
  }

  final case class QueryRun(name: String, seconds: Double, phases: Map[String, Double])

  /** One pass: each query is built and its result written to
    * `out/<name>`; the write is the query's output.
    */
  def pass(spark: SparkSession, tr: Trace, corpus: Path, out: Path): Seq[QueryRun] =
    queryOrder.flatMap { q =>
      graft.tools.PhaseTimer.drain()
      val t0 = System.nanoTime()
      val ok = tr.call(s"functions.$q") {
        SparkEntry.queries(q)(spark, corpus.toString)
          .write.mode("overwrite").parquet(out.resolve(q).toString)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      ok.map(_ => QueryRun(q, secs, graft.tools.PhaseTimer.drain()))
    }

  /** Between passes: drop the caches and the shared exact-graph memo, so
    * every pass pays for its own builds.
    */
  def resetBetweenPasses(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    SparkEntry.resetSharedIntermediates()
  }

  def writeOracleSql(out: Path): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = queryOrder.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ",", "}")
    Files.writeString(out.resolve("oracle_sql.json"), json)
  }
}
