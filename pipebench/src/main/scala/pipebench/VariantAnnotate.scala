package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.io.{Sinks, Sources}
import graft.ops.{AnnotateOps, GeneOps, VariantOps}

/** The paper's own pipeline: a multi-chromosome GVF build plus a GTF
  * through `Pipeline.complete` to its six TSV outputs. The expected
  * outputs are derived here, in plain Scala, from the generated files by
  * the reference rules (SURVEY.md X1-X10, F1-F5, D1-D4, J1). */
final class VariantAnnotate extends Workload {
  val variants = 24000
  /** Pipeline runs per round: a fixed count, so every run measures the
    * same number of them (a round outlasts `run_seconds`). */
  val completes = 2
  /** Reads of the written result per round. */
  val lookups = 10
  def sizeTag = s"v$variants"
  def flowSpan = "Pipeline.complete"

  private val chromosomes = Seq("1", "2", "3", "X")
  private val outputs = Seq("variant-effects", "variant-metadata", "genes",
    "genes-deduped", "intergenic", "intragenic")

  // ---- generator ---------------------------------------------------------

  private val terms = Seq("missense_variant", "synonymous_variant",
    "intron_variant", "upstream_gene_variant", "downstream_gene_variant",
    "5_prime_UTR_variant", "splice_region_variant",
    "non_coding_transcript_exon_variant")
  private val biotypes = Seq("protein_coding", "protein_coding",
    "protein_coding", "lncRNA", "processed_pseudogene")

  def stage(spark: SparkSession, dir: Path): Unit = {
    val r = Seeds.stream("variant")
    val gtf = new StringBuilder
    gtf ++= "#!genome-build GRCh38.p12\n#!genome-version GRCh38\n"
    val txByChrom = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    var gene = 0
    var tx = 0
    val genesPerChrom = variants / 60 / chromosomes.size
    for (c <- chromosomes; _ <- 0 until genesPerChrom) {
      gene += 1
      val gid = f"ENSG$gene%011d"
      val start = 10000L + r.nextInt(50000000)
      val name = "G" + (0 until 3).map(_ => ('A' + r.nextInt(26)).toChar).mkString + gene
      // quirks: a hyphenated name (the \w+ regex finds no closing quote and
      // yields NA) or no gene_name attribute at all
      val nameAttr = r.nextInt(20) match {
        case 0 => ""
        case 1 | 2 => s""" gene_name "$name-AS1";"""
        case _ => s""" gene_name "$name";"""
      }
      val bt = biotypes(r.nextInt(biotypes.size))
      val geneAttr = s"""gene_id "$gid"; gene_version "5";$nameAttr gene_source "ensembl_havana"; gene_biotype "$bt";"""
      gtf ++= s"$c\tensembl_havana\tgene\t$start\t${start + 90000}\t.\t+\t.\t$geneAttr\n"
      for (t <- 1 to 1 + r.nextInt(4)) {
        tx += 1
        val tid = f"ENST$tx%011d"
        val ts = start + r.nextInt(40000)
        val te = ts + 1000 + r.nextInt(40000)
        // a transcript line without its transcript_id is dropped (F2)
        val txAttr = if (r.nextInt(50) == 0) "" else s""" transcript_id "$tid"; transcript_version "2";"""
        val attr = s"""gene_id "$gid"; gene_version "5";$txAttr$nameAttr gene_source "ensembl_havana"; gene_biotype "$bt"; transcript_name "$name-20$t"; transcript_source "ensembl"; transcript_biotype "$bt"; tag "basic";"""
        gtf ++= s"$c\tensembl\ttranscript\t$ts\t$te\t.\t+\t.\t$attr\n"
        // exon lines: the transcript filter (F3) must drop them
        for (e <- 1 to 2)
          gtf ++= s"""$c\tensembl\texon\t${ts + e * 100}\t${ts + e * 100 + 50}\t.\t+\t.\tgene_id "$gid"; transcript_id "$tid"; exon_number "$e";\n"""
        txByChrom.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += tid
      }
    }
    Files.write(dir.resolve("genes.gtf"), gtf.toString.getBytes(UTF_8))

    // a few hot transcripts take a large share of all effects: key skew
    val hot = chromosomes.map(c => txByChrom(c)(0))
    val gvfDir = dir.resolve("gvf")
    Files.createDirectories(gvfDir)
    var rsid = 1000L
    var id = 0
    val perChrom = variants / chromosomes.size
    for (c <- chromosomes) {
      val sb = new StringBuilder
      sb ++= "##gff-version 3\n##gvf-version 1.07\n##genome-build ensembl GRCh38\n"
      val txs = txByChrom(c)
      for (_ <- 0 until perChrom) {
        id += 1
        rsid += 1 + r.nextInt(7)
        val pos = 10000L + r.nextInt(60000000)
        val attrs = mutable.ArrayBuffer(s"ID=$id")
        r.nextInt(50) match {
          case 0 => attrs += "Variant_seq=N" // outside [-,ACGT]: reads as '-'
          case 1 | 2 => ()                   // missing: '-'
          case _ => attrs += s"Variant_seq=${Seq("A", "C", "G", "T", "-", "AT", "C,T")(r.nextInt(7))}"
        }
        if (r.nextInt(33) != 0) attrs += s"Dbxref=dbSNP_151:rs$rsid" // else: no rsid, dropped (F1)
        attrs += "evidence_values=Frequency,TOPMed"
        if (r.nextInt(5) < 3)
          attrs += f"global_minor_allele_frequency=0|${r.nextInt(5000) / 10000.0}%.4f|${r.nextInt(900) + 1}"
        val nEff = Seq(0, 0, 1, 1, 1, 2, 2, 3, 4, 6)(r.nextInt(10))
        val effs = (0 until nEff).map { _ =>
          val term = terms(r.nextInt(terms.size))
          r.nextInt(20) match {
            case 0 => "regulatory_region_variant 0 regulatory_region" // no transcript token
            case 1 => f"$term 0 mRNA ENST9${r.nextInt(100000)}%010d" // not in the GTF
            case 2 | 3 | 4 => s"$term ${r.nextInt(2)} mRNA ${hot(chromosomes.indexOf(c))}"
            case _ => s"$term ${r.nextInt(2)} primary_transcript ${txs(r.nextInt(txs.size))}"
          }
        }
        val ref = if (r.nextInt(25) == 0) None else Some(s"Reference_seq=${Seq("A", "C", "G", "T")(r.nextInt(4))}")
        val line =
          if (effs.nonEmpty && r.nextInt(30) == 0)
            // unterminated Variant_effect: the reference regex misses it (X6)
            (attrs ++ ref :+ s"Variant_effect=${effs.mkString(",")}").mkString(";")
          else
            ((attrs ++ (if (effs.isEmpty) Nil else Seq(s"Variant_effect=${effs.mkString(",")}"))) ++ ref).mkString(";")
        val row = s"$c\tdbSNP\tSNV\t$pos\t$pos\t.\t+\t.\t$line\n"
        sb ++= row
        // a repeated record: the metadata dedup (D2) keeps one row per rsid
        if (r.nextInt(50) == 0) sb ++= row
      }
      Files.write(gvfDir.resolve(s"chromosome-$c.gvf"), sb.toString.getBytes(UTF_8))
    }
  }

  // ---- expected outputs (reference rules, plain Scala) --------------------

  private def find(p: java.util.regex.Pattern, s: String): Option[String] = {
    val m = p.matcher(s)
    if (m.find()) Option(m.group(1)).filter(_.nonEmpty) else None
  }
  private val pRsid = java.util.regex.Pattern.compile("""Dbxref=dbSNP_\d+:(rs\d+)""")
  private val pVar = java.util.regex.Pattern.compile("""Variant_seq=([-,ACGT]+)""")
  private val pRef = java.util.regex.Pattern.compile("""Reference_seq=([-,ACGT]+)""")
  private val pMaf = java.util.regex.Pattern.compile("""global_minor_allele_frequency=\d+\|([.0-9]+)""")
  private val pEff = java.util.regex.Pattern.compile("""Variant_effect=(.+?);""")
  private val pGene = java.util.regex.Pattern.compile("gene_id \"(ENS[A-Z]*\\d+)\"")
  private val pTx = java.util.regex.Pattern.compile("transcript_id \"(ENS[A-Z]*\\d+)\"")
  private val pBio = java.util.regex.Pattern.compile("biotype \"(\\w+)\"")
  private val pName = java.util.regex.Pattern.compile("gene_name \"(\\w+)\"")
  private val intergenicTerms = Set("intergenic", "upstream_gene_variant", "downstream_gene_variant")

  private def lines(p: Path): Iterator[String] =
    new String(Files.readAllBytes(p), UTF_8).split("\n").iterator.filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Output name → expected data lines. */
  private def expected(in: Path): Map[String, Seq[String]] = {
    final case class Eff(chrom: String, rsid: Long, start: Long, end: Long,
        observed: String, maf: Float, effect: String, transcript: String)
    val effs = Files2.files(in.resolve("gvf"), _.endsWith(".gvf")).flatMap(lines).flatMap { l =>
      val f = l.split("\t", -1)
      val attr = f(8)
      find(pRsid, attr).toSeq.flatMap { rs =>
        val observed = find(pVar, attr).getOrElse("-") + "," + find(pRef, attr).getOrElse("-")
        val maf = find(pMaf, attr).map(_.toFloat).getOrElse(0.0f)
        find(pEff, attr).getOrElse("intergenic").split(",", -1).toSeq.map { e =>
          val t = e.split(" ", -1)
          Eff("chr" + f(0), rs.stripPrefix("rs").toLong, f(3).toLong, f(4).toLong,
            observed, maf, t(0), if (t.length >= 4) t(3) else "")
        }
      }
    }
    val effects = effs.map(e => (e.rsid, e.effect, e.transcript)).distinct
    val metadata = effs.groupBy(_.rsid).values.map(_.minBy(e =>
      (e.chrom, e.start, e.end, e.observed, e.maf))).toSeq
    final case class Gene(chrom: String, start: Long, end: Long, tx: String,
        gene: String, name: String, biotype: String)
    val genes = lines(in.resolve("genes.gtf")).map(_.split("\t", -1))
      .filter(_(2) == "transcript").flatMap { f =>
        for (g <- find(pGene, f(8)); t <- find(pTx, f(8)))
          yield Gene("chr" + f(0), f(3).toLong, f(4).toLong, t, g,
            find(pName, f(8)).getOrElse("NA"), find(pBio, f(8)).getOrElse("NA"))
      }.toSeq
    val deduped = genes.groupBy(_.gene).values.map(_.minBy(g =>
      (g.chrom, g.start, g.end, g.tx, g.name, g.biotype))).toSeq
    val byTx = genes.groupBy(_.tx)
    // left join on transcript: an unmatched effect keeps null gene columns
    val annotated = effects.flatMap { case (rs, eff, t) =>
      byTx.get(t) match {
        case Some(gs) => gs.map(g => (rs, eff, Option(g)))
        case None => Seq((rs, eff, None))
      }
    }
    val intergenic = annotated.collect { case (rs, eff, _) if intergenicTerms(eff) => s"$rs\t$eff" }
    val intragenic = annotated.collect {
      case (rs, eff, Some(g)) if !intergenicTerms(eff) => (rs, eff, g.gene, g.name, g.biotype)
    }.distinct.groupBy(x => (x._1, x._2, x._3)).values.map(_.minBy(x => (x._4, x._5)))
      .map(x => s"${x._1}\t${x._2}\t${x._3}\t${x._4}\t${x._5}").toSeq
    Map(
      "variant-effects" -> effects.map { case (rs, e, t) => s"$rs\t$e\t$t" },
      "variant-metadata" -> metadata.map(e =>
        s"${e.chrom}\t${e.start}\t${e.end}\t${e.rsid}\t${e.observed}\t${e.maf}"),
      "genes" -> genes.map(g => s"${g.chrom}\t${g.start}\t${g.end}\t${g.tx}\t${g.gene}\t${g.name}\t${g.biotype}"),
      "genes-deduped" -> deduped.map(g => s"${g.chrom}\t${g.start}\t${g.end}\t${g.tx}\t${g.gene}\t${g.name}\t${g.biotype}"),
      "intergenic" -> intergenic,
      "intragenic" -> intragenic)
  }

  private var expectedCache: Option[(Map[String, Seq[String]], Map[String, (Int, Long)])] = None

  /** Row count and an order-independent digest (sum of 64-bit line
    * hashes) of a multiset of lines. */
  private def digest(ls: Seq[String]): (Int, Long) =
    (ls.size, ls.iterator.map(l =>
      scala.util.hashing.MurmurHash3.stringHash(l).toLong * 0x9E3779B97F4A7C15L +
        scala.util.hashing.MurmurHash3.stringHash(l, 0x5bd1e995)).sum)

  /** Compare the six outputs under `out` with the expected rows; returns
    * whether all match. */
  private def check(in: Path, out: Path, rec: Recorder): Boolean = {
    val (exp, expDigest) = expectedCache.getOrElse {
      val e = expected(in)
      val d = e.map { case (k, v) => k -> digest(v) }
      expectedCache = Some((e, d))
      rec.notes("expected_rows") = outputs.map(o => s"$o=${e(o).size}").mkString(" ")
      (e, d)
    }
    outputs.forall { o =>
      val got = Files2.tsvRows(out.resolve(o))
      val ok = digest(got) == expDigest(o)
      if (!ok) {
        val g = got.toSet
        val missing = exp(o).filterNot(g).take(2)
        val extra = got.filterNot(exp(o).toSet).take(2)
        rec.failure(s"$o: ${got.size} rows, expected ${exp(o).size}; " +
          s"missing e.g. ${missing.mkString(" | ")}; unexpected e.g. ${extra.mkString(" | ")}")
      }
      ok
    }
  }

  // ---- rounds --------------------------------------------------------------

  private def gvfGlob(in: Path) = in.resolve("gvf").toString
  private def gtfPath(in: Path) = in.resolve("genes.gtf").toString

  private var lookupRound = 0

  /** `completes` runs of `Pipeline.complete`, then a client reads the
    * written effects of a few variants back through the program's reader. */
  def round(spark: SparkSession, in: Path, work: Path, rec: Recorder): (Int, Int) = {
    val out = work.resolve("out")
    var failed = 0
    for (_ <- 0 until completes) {
      Files2.deleteTree(out)
      val (_, s) = Bench.timed(graft.Pipeline.complete(spark, gvfGlob(in), gtfPath(in), out.toString))
      rec.add("run_s", s)
      if (!check(in, out, rec)) failed += 1
    }
    val effects = expectedCache.get._1("variant-effects")
    val r = Seeds.stream(s"lookup-$lookupRound")
    lookupRound += 1
    for (_ <- 0 until lookups) {
      val rsid = effects(r.nextInt(effects.size)).takeWhile(_ != '\t')
      val (got, t) = Bench.timed(
        Sources.readProcessedVariants(spark, out.resolve("variant-effects").toString)
          .filter(col("rsid") === rsid.toLong).collect()
          .map(x => s"${x.getLong(0)}\t${x.getString(1)}\t${x.getString(2)}").sorted.toSeq)
      rec.add("probe_ms", t * 1000)
      val want = effects.filter(_.takeWhile(_ != '\t') == rsid).sorted
      if (got != want) {
        failed += 1
        rec.failure(s"lookup rs$rsid: got ${got.mkString(" | ")}, expected ${want.mkString(" | ")}")
      }
    }
    (completes + lookups, failed)
  }

  def tracedRound(spark: SparkSession, in: Path, work: Path, rec: Recorder,
      tr: Tracer): (Int, Int) = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def step(span: String, df: => DataFrame) = tr.step(span, cached)(df)
    val gvf = step("io.read_gvf", Sources.readGvf(spark, gvfGlob(in)))
    val gtf = step("io.read_gtf", Sources.readGtf(spark, gtfPath(in)))
    val processed = step("ops.process_gvf", VariantOps.processGvf(gvf))
    rec.add("ops.effect_rows", processed.groupBy().count().collect()(0).getLong(0).toDouble)
    val effects = step("ops.isolate_effects", VariantOps.isolateEffects(processed))
    val metadata = step("ops.isolate_metadata", VariantOps.isolateMetadata(processed))
    val genes = step("ops.process_gtf", GeneOps.processGtf(gtf))
    val deduped = step("ops.dedup_genes", GeneOps.dedupGenes(genes))
    val (inter, intra) = tr.span("ops.annotate") {
      val a = AnnotateOps.annotateVariants(effects, genes)
      val i1 = AnnotateOps.isolateIntergenic(a).persist(StorageLevel.MEMORY_AND_DISK)
      val i2 = AnnotateOps.isolateIntragenic(a).persist(StorageLevel.MEMORY_AND_DISK)
      Bench.noop(i1); Bench.noop(i2)
      cached += i1; cached += i2
      (i1, i2)
    }
    val layerOut = work.resolve("layers")
    Files2.deleteTree(layerOut)
    tr.span("io.write_tsv") {
      Seq(effects, metadata, genes, deduped, inter, intra).zip(outputs).foreach {
        case (df, o) => Sinks.writeTsv(df, layerOut.resolve(o).toString)
      }
    }
    rec.add("io.tsv_out_mb", Files2.treeBytes(layerOut) / Bench.MB)
    cached.foreach(_.unpersist(true))

    val out = work.resolve("out")
    Files2.deleteTree(out)
    tr.span("Pipeline.complete") {
      graft.Pipeline.complete(spark, gvfGlob(in), gtfPath(in), out.toString)
    }
    val ok = check(in, out, rec) && check(in, layerOut, rec)
    (1, if (ok) 0 else 1)
  }

  def endToEnd(rec: Recorder): Seq[(String, Double, String)] = Seq(
    ("run_s", rec.median("run_s"), "s"),
    ("probe_p50_ms", rec.median("probe_ms"), "ms"))

  def perLayer(rec: Recorder, tr: Tracer): Seq[(String, Double, String)] = {
    def med(xs: Seq[Double]) = Stats.quantile(xs, 0.5)
    Seq("io.read_gvf", "io.read_gtf", "ops.process_gvf", "ops.isolate_effects",
      "ops.isolate_metadata", "ops.process_gtf", "ops.dedup_genes", "ops.annotate",
      "io.write_tsv", "Pipeline.complete").map(n => (s"${n}_s", med(tr.selfSeconds(n)), "s")) ++
    Seq(
      ("ops.effect_rows", rec.median("ops.effect_rows"), "count"),
      ("io.tsv_out_mb", rec.median("io.tsv_out_mb"), "MB"),
      ("traced.run_s", med(tr.totalSeconds("Pipeline.complete")), "s"))
  }
}
