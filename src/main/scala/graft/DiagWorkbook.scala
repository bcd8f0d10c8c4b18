package graft

import org.apache.spark.sql.Row
import graft.operators.DiagAnalysis
import java.nio.file.{Files, Paths}

/** Spreadsheet-shaped report: one CSV per workbook tab, with the
  * reference's tab names and header layouts (ref explore.py:1121-1849 —
  * the xlsx writer; sheets_data at explore.py:442-450). The engine's
  * deliverable is the data: formulas the reference leaves to Excel
  * (totals, averages, TPMo) are emitted as computed rows, and
  * presentation-only features (freeze panes, formats, textbox comments)
  * have no CSV counterpart. Side-by-side block layouts (Workload,
  * Proxihistogram) are reproduced, including the empty separator column.
  *
  * Every tab is report-sized (post-aggregation) by construction, and
  * `DiagReport.analyze` hands the tabs over as local relations of rows
  * it has already collected, so the collects here read those rows
  * without running a Spark job.
  */
object DiagWorkbook {

  private def csvCell(v: Any): String = v match {
    case null => ""
    case DiagXlsx.Styled(inner, _) => csvCell(inner) // CSV carries no formats
    case s: String if s.contains(",") || s.contains("\"") ||
        s.contains("\n") || s.contains("\r") =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case other => other.toString
  }

  private def writeCsv(path: String, rows: Seq[Seq[Any]]): Unit =
    Files.writeString(Paths.get(path),
      rows.map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n"))

  private def get(r: Row, name: String): Any =
    if (r.isNullAt(r.fieldIndex(name))) null else r.getAs[Any](name)

  private def num(r: Row, name: String): Double =
    Option(get(r, name)).map(_.toString.toDouble).getOrElse(0.0)

  // number-format shorthands (xlsx only; the CSV writer unwraps)
  private def i0(v: Any) = DiagXlsx.Styled(v, DiagXlsx.Styles.Int0)
  private def d2(v: Any) = DiagXlsx.Styled(v, DiagXlsx.Styles.Dec2)
  private def pc(v: Any) = DiagXlsx.Styled(v, DiagXlsx.Styles.Pct2)
  private def d4(v: Any) = DiagXlsx.Styled(v, DiagXlsx.Styles.Dec4)

  /** Write all workbook tabs as `<outDir>/workbook/<Tab Name>.csv`. */
  def write(tabs: DiagReport.Tabs, outDir: String): Unit = {
    val dir = s"$outDir/workbook"
    new java.io.File(dir).mkdirs()
    val (s, merges, comments) = sheets(tabs)
    s.foreach { case (name, rows) => writeCsv(s"$dir/$name.csv", rows) }
    // the reference's primary artifact: <db>_astra_chart.xlsx
    // (explore.py:1124) — same sheets, written as a real workbook with
    // the reference's frozen panes (freeze_panes at explore.py:1129,
    // 1131, 1135-1139 and freeze_row in sheets_data:443-450), merged
    // title ranges and header/metric cell comments
    val freeze = Map(
      "Workload" -> (3, 0), "Data Size" -> (2, 2), "Node Data" -> (1, 0),
      "Proxihistogram" -> (2, 0), "Tombstones" -> (1, 0),
      "GC Pauses" -> (2, 0)) ++
      DiagAnalysis.tabSpecs.map(_.title -> (1, 0)).toMap
    DiagXlsx.write(s"$outDir/${tabs.clusterName}_astra_chart.xlsx", s, freeze,
      merges, comments)
  }

  /** The reference's sizing comments, keyed by the field they annotate
    * (explore.py:478-524; attached via write_cmt at :210-213). Texts
    * are carried verbatim — the comment is part of the artifact, typos
    * included. */
  private val FieldComments: Map[String, String] = Map(
    "Data Size (GB)" -> "Data Size is a single set of complete data.  It does not include replicated data across the database",
    "Data Set Size" -> "Data Size is a single set of complete data.  It does not include replicated data across the database",
    "Read Requests" -> "The number of read requests during the nodes uptime, analogous to client reads.",
    "Write Requests" -> "The number of write requests during the nodes uptime, analogous to client writes.",
    "% Reads" -> "The table's pecentage of the total read requests in the database. (See comment in READ TPS)",
    "% Writes" -> "The table's pecentage of the total write requests in the database.",
    "R % RW" -> "The table's pecentage of read requests of the total RW requests (read and Write) in the database. (See comment in READ TPS)",
    "W % RW" -> "The table's pecentage of write requests of the total RW requests (read and Write) in the database. (See comment in READ TPS)",
    "Average TPS" -> "The table's read or write request count divided by the uptime. (See comment in READ TPS)",
    "Read TPS" -> "The database's average read requests per second based on a local read consistancy level.  The time is determined by the node's uptime.",
    "Read TPMo" -> "The database's average read requests per month (See comment in READ TPS). The month is calculated at 365.25/12 days.",
    "Write TPS" -> "The number of write requests per second on the coordinator nodes, analogous to client writes. The time is determined by the node's uptime.",
    "Write TPMo" -> "The database's average write requests per month. The month is calculated at 365.25/12 days.",
    "Total R % RW" -> "The total read requests percentage of combined RW requests (read and write) in the database. (See comment in READ TPS)",
    "Total W % RW" -> "The total write requests percentage of combined RW requests (read and write) in the database. (See comment in READ TPS)")

  /** Build every workbook tab as (name, rows) plus its merged ranges
    * and cell comments, in the reference's sheet order
    * (explore.py:1127-1138). */
  private def sheets(tabs: DiagReport.Tabs): (Seq[(String, Seq[Seq[Any]])],
      Map[String, Seq[String]], Map[String, Seq[(String, String)]]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Seq[Any]])]
    val merges = scala.collection.mutable.Map.empty[String, Seq[String]]
    val comments = scala.collection.mutable.Map.empty[String, Seq[(String, String)]]
    def sheet(name: String, rows: Seq[Seq[Any]]): Unit = out += (name -> rows)
    def cmt(field: String): String = FieldComments(field)

    val nodeRows = tabs.nodeTable.collect()
    val wl = tabs.workload.collect().toSeq
    // numbers shared with summary.json via DiagReport.astraMetrics —
    // one definition, two deliverables
    val am = DiagReport.astraMetrics(wl, nodeRows.toSeq)

    // ---- Node Data (explore.py:443, 1545-1559: + Avg Uptime footer)
    val nodeData = nodeRows.toSeq.map(r => Seq(
      get(r, "dc"), get(r, "node"), get(r, "load"), get(r, "tokens"),
      get(r, "rack"), i0(get(r, "uptime_sec")), get(r, "uptime_human"),
      get(r, "workload"), get(r, "version")))
    if (nodeRows.nonEmpty) // exclude_tab parity: no status data, no tab
      sheet("Node Data",
        Seq(Seq("Datacenter", "Node", "Load", "Tokens", "Rack", "Uptime (sec)",
          "Uptime", "Workload", "Version")) ++ nodeData ++
          Seq(Seq("", "", "", "", "Avg Uptime", d2(am.avgUptimeSec), "", "", "")))

    // ---- Workload: read block ∥ write block (explore.py:1684-1789).
    // Each block lists only tables that HAVE that counter (the
    // reference's read_count/write_count lists carry no entry for a
    // table whose cfstats lacked the metric — an index keyspace with
    // reads but no writes appears on the read side only), and each
    // block's Total row lands right after ITS OWN rows, so the two
    // sides can end on different rows.
    val readSide = wl.filter(r => get(r, "reads") != null)
      .sortBy(r => (-num(r, "reads"), r.getAs[String]("keyspace"),
        r.getAs[String]("table"))).map(r => Seq(
      get(r, "keyspace"), get(r, "table"), i0(num(r, "reads")), d4(num(r, "read_tps")),
      pc(num(r, "perc_read")), pc(num(r, "read_perc_rw"))))
    val writeSide = wl.filter(r => get(r, "writes") != null)
      .sortBy(r => (-num(r, "writes"), r.getAs[String]("keyspace"),
        r.getAs[String]("table"))).map(r => Seq(
      get(r, "keyspace"), get(r, "table"), i0(num(r, "writes")), d4(num(r, "write_tps")),
      pc(num(r, "perc_write")), pc(num(r, "write_perc_rw"))))
    def cellNum(v: Any): Double = v match {
      case DiagXlsx.Styled(inner, _) => cellNum(inner)
      case other => other.toString.toDouble
    }
    def tot(side: Seq[Seq[Any]], i: Int) = side.map(r => cellNum(r(i))).sum
    val readTotal = Seq("Total", "", i0(tot(readSide, 2)), d4(tot(readSide, 3)), "", pc(tot(readSide, 5)))
    val writeTotal = Seq("Total", "", i0(tot(writeSide, 2)), d4(tot(writeSide, 3)), "", pc(tot(writeSide, 5)))
    val blockHdr = Seq("Keyspace", "Table")
    // reference layout (explore.py:1693-1695): merged title row, merged
    // Reads/Writes block-title row, then the column headers
    val wlRows =
      Seq(
        Seq[Any](s"Workload for ${tabs.clusterName}"),
        Seq[Any]("Reads", "", "", "", "", "", "", "Writes"),
        blockHdr ++ Seq("Read Requests", "Average TPS", "% Reads", "R % RW", "") ++
          blockHdr ++ Seq("Write Requests", "Average TPS", "% Writes", "W % RW")) ++
        (readSide :+ readTotal).zipAll(writeSide :+ writeTotal,
          Seq.fill(6)(""), Seq.fill(6)("")).map { case (a, b) => a ++ Seq("") ++ b }
    sheet("Workload", wlRows)
    merges("Workload") = Seq("A1:M1", "A2:F2", "H2:M2")
    // header comments (write_cmt over both header loops,
    // explore.py:1586, 1614) + the Total R/W % RW footer comments
    // (:1761, :1799) — each side's Total row follows its own rows
    comments("Workload") = Seq(
      "C3" -> cmt("Read Requests"), "D3" -> cmt("Average TPS"),
      "E3" -> cmt("% Reads"), "F3" -> cmt("R % RW"),
      "J3" -> cmt("Write Requests"), "K3" -> cmt("Average TPS"),
      "L3" -> cmt("% Writes"), "M3" -> cmt("W % RW"),
      s"F${readSide.length + 4}" -> cmt("Total R % RW"),
      s"M${writeSide.length + 4}" -> cmt("Total W % RW"))

    // ---- Data Size (explore.py:1130, 1710-1716) + Total footer;
    // merged 'Table Size' title (explore.py:1343) + the Data Set Size
    // header comment (:1359)
    val dsRows = wl.sortBy(r => (-num(r, "size_bytes"), r.getAs[String]("keyspace"),
      r.getAs[String]("table"))).map(r =>
      Seq(get(r, "keyspace"), get(r, "table"), i0(num(r, "size_bytes"))))
    sheet("Data Size",
      Seq(Seq[Any]("Table Size"),
        Seq("Keyspace", "Table", "Size (Bytes)")) ++ dsRows ++
        Seq(Seq("Total", "", i0(wl.map(num(_, "size_bytes")).sum))))
    merges("Data Size") = Seq("A1:C1")
    comments("Data Size") = Seq("C2" -> cmt("Data Set Size"))

    // ---- threshold tabs (explore.py:445-450)
    val th = tabs.thresholds.collect().groupBy(_.getAs[String]("tab"))
    DiagAnalysis.tabSpecs.foreach { t =>
      val fmt: Any => Any = if (t.decimal) d2 else i0
      val rows = th.getOrElse(t.name, Array.empty[Row]).toSeq.map(r => Seq(
        get(r, "node"), get(r, "dc"), get(r, "keyspace"), get(r, "table"),
        fmt(num(r, "value"))))
      sheet(t.title, t.headers +: rows)
    }

    // ---- Tombstones (explore.py:1575-1600; ts_cols order)
    val tsRows = tabs.tombstones.collect().toSeq.map(r => Seq(
      get(r, "dc"), get(r, "node"), get(r, "keyspace"), get(r, "table"),
      i0(get(r, "reads")), i0(get(r, "tombstones"))))
    sheet("Tombstones",
      Seq(Seq("Sample DC", "Sample Node", "Keyspace", "Table",
        "Live Rows Read", "Tombstones")) ++ tsRows)

    // ---- GC Pauses (explore.py:1605-1682). The reference writes the
    // node's DC in column 2 for node rows; the engine's gc relation
    // carries the rollup level there (documented deviation).
    val gcRows = tabs.gc.collect().toSeq.map(r => Seq(
      get(r, "name"), get(r, "level"), get(r, "pauses"), get(r, "max_ms"),
      get(r, "p99"), get(r, "p98"), get(r, "p95"), get(r, "p90"),
      get(r, "p75"), get(r, "p50"), get(r, "min_ms"),
      get(r, "oldest"), get(r, "newest"), get(r, "ts_of_max")))
    sheet("GC Pauses",
      Seq(Seq("Name", "Level/DC", "Pauses", "Max", "P99", "P98", "P95",
        "P90", "P75", "P50", "Min", "From", "To", "Max Date")) ++ gcRows)

    // ---- Proxihistogram: read block ∥ write block (explore.py:444)
    val phLabels = Seq("Max", "99", "98", "95", "75", "50", "Min")
    val phRows = tabs.proxyHist.collect().toSeq.map { r =>
      val ids = Seq(get(r, "dc"), get(r, "node"))
      ids ++ phLabels.map(l => d2(get(r, s"r_$l"))) ++ Seq("") ++
        ids ++ phLabels.map(l => d2(get(r, s"w_$l")))
    }
    val phHdr = Seq("Datacenter", "Node", "Max", "P99", "P98", "P95", "P75", "P50", "Min")
    // merged read/write block titles over the two halves
    // (explore.py:1395-1396)
    val phTitle = Seq[Any]("Coordinating Node Read Latency (ms)",
      "", "", "", "", "", "", "", "", "",
      "Coordinating Node Write Latency (ms)")
    sheet("Proxihistogram", Seq(phTitle, phHdr ++ Seq("") ++ phHdr) ++ phRows)
    merges("Proxihistogram") = Seq("A1:I1", "K1:S1")

    // ---- Astra Metrics: workload summary + warning sections
    // (explore.py:1801-1846)
    val warnRows = tabs.warnings.collect().toSeq
    val warnSection =
      if (warnRows.isEmpty) Seq(Seq("No potential guardrail issues identified"))
      else warnRows.groupBy(_.getAs[String]("category")).toSeq.sortBy(_._1)
        .flatMap { case (cat, rs) =>
          Seq(Seq(""), Seq(cat)) ++
            rs.groupBy(_.getAs[String]("check")).toSeq.sortBy(_._1)
              .flatMap { case (check, ms) =>
                Seq(check).map(Seq[Any](_)) ++
                  ms.map(_.getAs[String]("message")).sorted.map(m => Seq[Any]("", m))
              }
        }
    val amHead = Seq(
      Seq[Any](s"Astra Metrics Data for ${tabs.clusterName}"),
      Seq[Any]("Workload Summary"),
      Seq("Read TPS", d4(am.readTps)),
      Seq("Read TPMo", i0(am.readTpmo)),
      Seq("Write TPS", d4(am.writeTps)),
      Seq("Write TPMo", i0(am.writeTpmo)),
      Seq("Data Size (GB)", d2(am.dataSizeGb)),
      Seq("Average Uptime", d2(am.avgUptimeSec)))
    sheet("Astra Metrics", amHead ++ warnSection)
    // title/summary-header merges (explore.py:1807-1808) + the warning
    // section's per-row A:B merges (:1832-1843 — category/check header
    // rows; message rows keep the reference's indent-under-check form)
    merges("Astra Metrics") = Seq("A1:B1", "A2:B2") ++
      warnSection.zipWithIndex.collect {
        case (row, i) if row.lengthCompare(1) == 0 &&
            row.head.toString.nonEmpty =>
          s"A${amHead.length + i + 1}:B${amHead.length + i + 1}"
      }
    // metric-label comments (write_cmt loop, explore.py:1810-1825)
    comments("Astra Metrics") = Seq(
      "A3" -> cmt("Read TPS"), "A4" -> cmt("Read TPMo"),
      "A5" -> cmt("Write TPS"), "A6" -> cmt("Write TPMo"),
      "A7" -> cmt("Data Size (GB)"))

    // reference sheet order: Astra Metrics, Workload, Data Size, the
    // sheets_data tabs, Tombstones, GC Pauses (explore.py:1127-1138)
    val order = Seq("Astra Metrics", "Workload", "Data Size", "Node Data",
      "Proxihistogram") ++ DiagAnalysis.tabSpecs.map(_.title) ++
      Seq("Tombstones", "GC Pauses")
    val byName = out.toMap
    (order.flatMap(n => byName.get(n).map(n -> _)),
      merges.toMap, comments.toMap)
  }
}
