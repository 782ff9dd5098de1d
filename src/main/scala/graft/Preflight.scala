package graft

import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Testdata-drift pre-flight probe.
  *
  * The driver REGENERATES `/root/testdata` between rounds, and the
  * regeneration has already changed a table's physical type once
  * (round 7→8: `events.ts` TIMESTAMP(NANOS) → TIMESTAMP(MICROS) NTZ),
  * which silently broke six queries — the failure surfaced as six
  * anonymous red cells in the correctness gate instead of one named
  * diagnostic. This probe runs as the FIRST action of `Verify` and
  * `Bench`: it reads every table's parquet FOOTER (physical schema +
  * row counts + column-statistics digest — O(KB) per table, no data
  * scan) and diffs against the committed expectation
  * (`src/main/resources/graft/testdata-expected.txt`, regenerate with
  * `runMain graft.Preflight gen`).
  *
  * On drift it prints one named `[preflight] TESTDATA DRIFT:` line per
  * difference and records the full diff in `TESTDATA_PROBE.json` (cwd,
  * best-effort) — it does NOT abort the run by default, because the
  * driver gate calls these mains directly and a hard abort would turn
  * one diagnostic into 123 red cells; the oracle compare is
  * engine-relative and survives pure content drift. Set
  * `SPARK_GRAFT_PREFLIGHT=strict` to throw instead (local use).
  */
object Preflight {

  /** One table's footer-level identity: schema field lines (whitespace-
    * normalized `Type.toString`, so logical annotations like
    * `TIMESTAMP(MICROS,false)` are part of the identity), total rows,
    * and a CRC32 over schema + per-block column statistics. */
  final case class TableSig(table: String, fields: Seq[String], rows: Long, digest: String)

  private val ResourcePath = "/graft/testdata-expected.txt"

  def signature(sfDir: String): Seq[TableSig] = {
    val dir = new java.io.File(sfDir)
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)
    files.toSeq.map { f =>
      val in = HadoopInputFile.fromPath(new Path(f.getAbsolutePath), new Configuration())
      val reader = ParquetFileReader.open(in)
      try {
        val md = reader.getFooter
        val schema = md.getFileMetaData.getSchema
        val fields = schema.getFields.asScala.toSeq
          .map(_.toString.replaceAll("\\s+", " ").trim)
        val blocks = md.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val crc = new CRC32()
        def feed(s: String): Unit = crc.update(s.getBytes("UTF-8"))
        feed(schema.toString)
        blocks.foreach { b =>
          feed(b.getRowCount.toString)
          b.getColumns.asScala.foreach { c =>
            feed(c.getPath.toDotString)
            feed(c.getValueCount.toString)
            // Statistics.toString includes min/max/null-count when
            // present — a cheap content fingerprint without a scan
            Option(c.getStatistics).foreach(s => feed(s.toString))
          }
        }
        TableSig(f.getName.stripSuffix(".parquet"), fields, rows,
          f"${crc.getValue}%08x")
      } finally reader.close()
    }
  }

  /** Committed expectations keyed by sf-dir basename ("sf0.01"). */
  def expected: Map[String, Seq[TableSig]] = {
    val is = getClass.getResourceAsStream(ResourcePath)
    if (is == null) return Map.empty
    val lines = scala.io.Source.fromInputStream(is, "UTF-8").getLines().toList
    val rows = lines.filter(_.nonEmpty).map(_.split("\t", 4))
    rows.groupBy(_(0)).map { case (sf, ls) =>
      val bySig = ls.groupBy(_(1)).map { case (table, tls) =>
        val fields = tls.filter(_(2) == "field").map(_(3))
        val n = tls.find(_(2) == "rows").map(_(3).toLong).getOrElse(-1L)
        val dg = tls.find(_(2) == "digest").map(_(3)).getOrElse("")
        TableSig(table, fields, n, dg)
      }.toSeq.sortBy(_.table)
      sf -> bySig
    }
  }

  private def render(sigs: Map[String, Seq[TableSig]]): String = {
    val sb = new StringBuilder
    sigs.toSeq.sortBy(_._1).foreach { case (sf, ts) =>
      ts.sortBy(_.table).foreach { t =>
        t.fields.foreach(f => sb.append(s"$sf\t${t.table}\tfield\t$f\n"))
        sb.append(s"$sf\t${t.table}\trows\t${t.rows}\n")
        sb.append(s"$sf\t${t.table}\tdigest\t${t.digest}\n")
      }
    }
    sb.toString
  }

  /** Named differences between expectation and observation. Schema
    * diffs name the exact field ("events.ts: ...") — the class of
    * drift that breaks readers; row/digest diffs are content-level
    * (oracle-relative compares survive those) and say so. */
  def diff(exp: Seq[TableSig], act: Seq[TableSig], sf: String): Seq[String] = {
    val em = exp.map(t => t.table -> t).toMap
    val am = act.map(t => t.table -> t).toMap
    val missing = em.keySet.diff(am.keySet).toSeq.sorted
      .map(t => s"$sf/$t: table MISSING from testdata")
    val extra = am.keySet.diff(em.keySet).toSeq.sorted
      .map(t => s"$sf/$t: new table not in expectation (harmless; regen expectation)")
    val changed = em.keySet.intersect(am.keySet).toSeq.sorted.flatMap { t =>
      val (e, a) = (em(t), am(t))
      def name(line: String): String = {
        // "optional int64 ts (TIMESTAMP(MICROS,false))" → "ts"; group
        // fields ("optional group embedding (LIST) { ... }") → "embedding"
        val m = "^(?:required|optional|repeated)\\s+\\S+\\s+(\\w+)".r
          .findFirstMatchIn(line)
        m.map(_.group(1)).getOrElse(line)
      }
      val ef = e.fields.map(l => name(l) -> l).toMap
      val af = a.fields.map(l => name(l) -> l).toMap
      val fieldDiffs =
        ef.keySet.diff(af.keySet).toSeq.sorted.map(n =>
          s"$sf/$t.$n: field DROPPED (was '${ef(n)}')") ++
        af.keySet.diff(ef.keySet).toSeq.sorted.map(n =>
          s"$sf/$t.$n: field ADDED ('${af(n)}')") ++
        ef.keySet.intersect(af.keySet).toSeq.sorted.collect {
          case n if ef(n) != af(n) =>
            s"$sf/$t.$n: physical type changed: expected '${ef(n)}' got '${af(n)}'"
        }
      val contentDiffs =
        (if (fieldDiffs.isEmpty && e.rows != a.rows)
          Seq(s"$sf/$t: row count ${e.rows} -> ${a.rows} (content drift; oracle compare unaffected)")
        else Seq.empty) ++
        (if (fieldDiffs.isEmpty && e.rows == a.rows && e.digest != a.digest)
          Seq(s"$sf/$t: content digest ${e.digest} -> ${a.digest} (same schema+rows; values changed)")
        else Seq.empty)
      fieldDiffs ++ contentDiffs
    }
    missing ++ changed ++ extra
  }

  /** Run the probe against one sf dir. Prints drift, records
    * TESTDATA_PROBE.json, returns the diffs. Unknown sf names (local
    * synthetic decades like sf1ish) skip silently — only the committed
    * driver dirs have expectations. */
  def check(sfDir: String): Seq[String] = {
    val sf = Paths.get(sfDir).getFileName.toString
    expected.get(sf) match {
      case None =>
        System.err.println(s"[preflight] no expectation for '$sf' — probe skipped")
        Seq.empty
      case Some(exp) =>
        val diffs =
          try diff(exp, signature(sfDir), sf)
          catch { case NonFatal(e) => Seq(s"$sf: probe failed to read footers: ${e.getMessage}") }
        if (diffs.isEmpty)
          System.err.println(s"[preflight] $sf matches committed expectation")
        else diffs.foreach(d => System.err.println(s"[preflight] TESTDATA DRIFT: $d"))
        writeProbeJson(sfDir, diffs)
        if (diffs.nonEmpty && sys.env.get("SPARK_GRAFT_PREFLIGHT").contains("strict"))
          throw new IllegalStateException(
            s"testdata drift detected (${diffs.length} diffs): ${diffs.head}")
        diffs
    }
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in hand-written oracle SQL would otherwise
    * make the consumer's json.load fail and silently zero the
    * correctness check. */
  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeProbeJson(sfDir: String, diffs: Seq[String]): Unit =
    try {
      val json = s"""{"sfDir":${jq(sfDir)},"ok":${diffs.isEmpty},""" +
        s""""diffs":[${diffs.map(jq).mkString(",")}]}"""
      Files.writeString(Paths.get("TESTDATA_PROBE.json"), json + "\n")
    } catch { case NonFatal(_) => () } // cwd may not be writable; probe stays best-effort

  /** `gen [outPath dirs...]`: regenerate the expectation file from the
    * driver testdata dirs. `check <sfDir>`: run the probe standalone. */
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      val out = args.lift(1).getOrElse("src/main/resources/graft/testdata-expected.txt")
      val dirs =
        if (args.length > 2) args.drop(2).toSeq
        else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      val sigs = dirs.map(d => Paths.get(d).getFileName.toString -> signature(d)).toMap
      Files.createDirectories(Paths.get(out).getParent)
      Files.writeString(Paths.get(out), render(sigs))
      println(s"wrote ${Paths.get(out)} (${dirs.length} sf dirs)")
    case Some("check") =>
      val diffs = check(args(1))
      if (diffs.nonEmpty) sys.exit(1)
    case _ =>
      System.err.println("usage: Preflight gen [outPath dirs...] | Preflight check <sfDir>")
      sys.exit(2)
  }
}
