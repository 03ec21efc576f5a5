package graft.convbench

import graft.IfcToRdf
import graft.model.{Doc, Span}
import graft.operators.Pipeline
import graft.sources.SynthCorpus
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark workload: a seeded [[SynthCorpus]] input and the public
  * entry point that converts it.
  *
  *  - `cli = false`: the docs table is staged as parquet and converted by
  *    `Pipeline.run` → `Pipeline.writeTriples` (the production path);
  *  - `cli = true`: the docs are staged as one `.ifc` file each and
  *    converted by the CLI's conversion step `IfcToRdf.execute` into one
  *    `.ttl` per input.
  *
  * With `skew`, exactly `docs / 100` of the documents are mega-documents
  * (50× `lines`), so the amount of work does not vary with the seed.
  */
final case class Workload(name: String, docs: Int, lines: Int, skew: Boolean, cli: Boolean) {
  /** staged inputs are keyed by (workload, size, seed) and regenerated when missing */
  def key(seed: Long): String = s"$name-${docs}x$lines-seed$seed"
  def megaDocs: Int = if (skew) docs / 100 else 0
}

object Workload {
  val All: Seq[Workload] = Seq(
    Workload("uniform", 250, 100, skew = false, cli = false),
    Workload("skewed", 200, 100, skew = true, cli = false),
    Workload("cli_ttl", 400, 20, skew = false, cli = true))

  def named(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${All.map(_.name).mkString(", ")})"))

  /** the same workload at a size small enough for unit tests */
  def tiny(w: Workload): Workload = w.copy(docs = if (w.skew) 100 else 24, lines = 12)

  /** the baseURI `IfcToRdf` converts with when none is given */
  private val CliBaseURI: String = IfcToRdf.CliArgs().baseURI

  private val DocEnc = Encoders.product[Doc]

  // ---------------------------------------------------------------- staging

  private val Complete = "_COMPLETE"

  /** whether `dir` holds a complete staged input: a parquet docs table
    * committed by `_SUCCESS`, or one `.ifc` file per document committed by
    * `_COMPLETE` */
  def isStaged(w: Workload, dir: Path): Boolean = Files.exists(dir.resolve(if (w.cli) Complete else "_SUCCESS"))

  /** Stage the workload's input under `dir` unless a complete copy is
    * there already. Staging needs no Spark session. */
  def stage(w: Workload, seed: Long, dir: Path): Unit =
    if (!isStaged(w, dir)) {
      deleteTree(dir)
      Files.createDirectories(dir)
      if (w.cli) {
        docs(w, seed).zipWithIndex.foreach { case (d, i) =>
          Files.writeString(dir.resolve(f"doc-$i%06d.ifc"), ifcText(d))
        }
        Files.writeString(dir.resolve(Complete), "")
      } else {
        val all = docs(w, seed)
        val per = (all.length + StagedFiles - 1) / StagedFiles
        all.grouped(per).zipWithIndex.foreach { case (part, k) =>
          DocsParquet.write(dir.resolve(f"part-$k%05d.parquet"), part)
        }
        Files.writeString(dir.resolve("_SUCCESS"), "")
      }
    }

  /** files of a staged docs table, so the scan runs in parallel */
  private val StagedFiles = 32

  /** The workload's documents. SynthCorpus draws mega-documents at random
    * (~1%); a skewed workload keeps the first `megaDocs` of them and the
    * first `docs - megaDocs` ordinary ones, and spaces the mega-documents
    * evenly, so that no two share a staged file whatever the seed. */
  private def docs(w: Workload, seed: Long): Seq[Doc] =
    if (!w.skew) (0 until w.docs).map(SynthCorpus.genDoc(_, w.lines, skew = false, seed))
    else {
      val all = Iterator.from(0).map(SynthCorpus.genDoc(_, w.lines, skew = true, seed))
      val (megas, plains) = (ArrayBuffer[Doc](), ArrayBuffer[Doc]())
      while (megas.length < w.megaDocs || plains.length < w.docs - w.megaDocs) {
        val d = all.next()
        if (ifcText(d).count(_ == '\n') > 10 * w.lines) { if (megas.length < w.megaDocs) megas += d }
        else if (plains.length < w.docs - w.megaDocs) plains += d
      }
      val stride = w.docs / math.max(1, w.megaDocs)
      val (m, p) = (megas.iterator, plains.iterator)
      (0 until w.docs).map(i => if (i % stride == stride / 2 && m.hasNext) m.next() else p.next())
    }

  /** a document's STEP text: its text spans in offset order */
  private def ifcText(d: Doc): String =
    d.spans.filter(_.kind == "text").sortBy(_.offset).map(_.text).mkString

  // ------------------------------------------------------------- conversion

  private def docsTable(staged: Path)(implicit spark: SparkSession): Dataset[Doc] =
    spark.read.parquet(staged.toString).as[Doc](DocEnc)

  private def ifcInputs(staged: Path): Seq[Path] =
    IfcToRdf.showFiles(staged).filter(_.toString.endsWith(".ifc"))

  /** the name of the CLI's output for an input */
  private def ttlName(in: Path): String = in.getFileName.toString.stripSuffix(".ifc") + ".ttl"

  private val devNull = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

  /** One conversion, from the call into the entry point until its output is
    * committed: `_SUCCESS` for parquet, every `.ttl` renamed into place for
    * the CLI. `out` must not exist yet. */
  def convert(w: Workload, staged: Path, out: Path)(implicit spark: SparkSession): Unit =
    if (w.cli) {
      val inputs = ifcInputs(staged)
      Files.createDirectories(out)
      // the CLI prints one line per document; keep them off the result stream
      Console.withOut(devNull) {
        IfcToRdf.execute(IfcToRdf.CliArgs(), inputs, inputs.map(in => out.resolve(ttlName(in))))
      }
    } else {
      Pipeline.writeTriples(Pipeline.run(docsTable(staged), SynthCorpus.BaseURI).triples, out.toString)
    }

  /** The docs the workload's entry point converts: the parquet table, or
    * the local relation `IfcToRdf.execute` builds from its inputs (doc ids
    * `f<i>`). */
  def inputDocs(w: Workload, staged: Path)(implicit spark: SparkSession): Dataset[Doc] =
    if (!w.cli) docsTable(staged)
    else spark.createDataset(ifcInputs(staged).zipWithIndex.map { case (p, i) =>
      Doc(s"f$i", Seq(Span("text", Files.readString(p), "", 0)))
    })(DocEnc)

  def baseURI(w: Workload): String = if (w.cli) CliBaseURI else SynthCorpus.BaseURI

  // ------------------------------------------------------------ correctness

  /** order-independent digest of a triples table: row count, and the sum
    * and xor of a 64-bit hash of every output column */
  final case class Digest(rows: Long, sum: java.math.BigDecimal, xor: Long)

  private def digest(triples: DataFrame): Digest = {
    val h = xxhash64(Seq("doc_id", "subj", "pred", "obj", "obj_kind", "obj_datatype")
      .map(c => coalesce(col(c), lit("\u0000null"))): _*)
    val r = triples.agg(count(lit(1)), sum(h.cast("decimal(20,0)")), bit_xor(h)).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** What a correct conversion of the staged input must produce. It comes
    * from `Pipeline.run(docs).triples` over the same docs, computed once
    * and untimed: a digest for parquet, triples per output file for the CLI. */
  final case class Reference(digest: Digest, perFile: Map[String, Long], markers: Long) {
    def triples: Long = digest.rows
  }

  def reference(w: Workload, staged: Path)(implicit spark: SparkSession): Reference = {
    val r = Pipeline.run(inputDocs(w, staged), baseURI(w))
    val d = digest(r.triples)
    val perFile =
      if (!w.cli) Map.empty[String, Long]
      else {
        val names = ifcInputs(staged).zipWithIndex.map { case (p, i) => s"f$i" -> ttlName(p) }.toMap
        r.triples.groupBy("doc_id").count().collect()
          .map(row => names(row.getString(0)) -> row.getLong(1)).toMap
      }
    val markers = r.markers.count()
    r.unpersist()
    Reference(d, perFile, markers)
  }

  /** Check one committed output against the reference; `None` when it
    * matches, otherwise what is wrong. */
  def check(w: Workload, out: Path, ref: Reference)(implicit spark: SparkSession): Option[String] =
    if (ref.markers != 0) Some(s"reference conversion emitted ${ref.markers} markers")
    else if (w.cli) checkTtl(out, ref.perFile)
    else if (!Files.exists(out.resolve("_SUCCESS"))) Some("no _SUCCESS: output not committed")
    else
      try {
        val got = digest(spark.read.parquet(out.toString))
        if (got == ref.digest) None else Some(s"output digest $got != reference ${ref.digest}")
      } catch { case e: Exception => Some(s"output unreadable: $e") }

  /** exactly one `.ttl` per document with triples, nothing else (no
    * `.inprogress-*` leftovers), each holding the reference's triple count */
  def checkTtl(out: Path, expected: Map[String, Long]): Option[String] = {
    val names = listFiles(out).map(_.getFileName.toString).toSet
    if (names != expected.keySet) {
      val missing = expected.keySet.diff(names)
      val extra = names.diff(expected.keySet)
      Some(s"output files differ: ${missing.size} missing (${missing.take(3).mkString(", ")}), " +
        s"${extra.size} unexpected (${extra.take(3).mkString(", ")})")
    } else expected.iterator.collectFirst(Function.unlift { case (name, n) =>
      val got = ttlTriples(out.resolve(name))
      if (got == n) None else Some(s"$name holds $got triples, reference $n")
    })
  }

  /** Triples in one `.ttl` written by the CLI's Turtle sink, which writes
    * one `subject predicate object .` line per triple after its `#`
    * comments and `@` directives; -1 when the file does not end in a
    * newline (a truncated write). */
  def ttlTriples(f: Path): Long = {
    val text = Files.readString(f)
    if (text.isEmpty || text.last != '\n') -1L
    else text.linesIterator.count { l =>
      l.nonEmpty && l.head != '#' && l.head != '@' && l.endsWith(" .")
    }.toLong
  }

  // ------------------------------------------------------------ file helpers

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
      finally s.close()
    }

  /** committed data files: no `_SUCCESS`, no hidden checksum files */
  def dataFiles(dir: Path): Seq[Path] = listFiles(dir).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
