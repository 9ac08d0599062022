package perfbench

import java.time.LocalDate

import graft.extract.{EstimateExtract, Html, StatementExtract}

/** Single-threaded direct calls into the extract layer on a fixed sample of
  * the workload's generated documents, after JIT warm-up, so the parse cost
  * reads apart from Spark scheduling. Kinds the workload has no documents
  * of report 0. */
object Micro {
  private def parser(kind: String, folder: LocalDate): String => Any = kind match {
    case "estimate" => html => EstimateExtract.parse(html, folder)
    case "income" => StatementExtract.parseIncomeStatement
    case "balance" => StatementExtract.parseBalanceSheet
    case "cashflow" => StatementExtract.parseCashFlow2024
  }

  /** Milliseconds per document of `f` over `docs`: whole passes until
    * `seconds` have elapsed. */
  private def msPerDoc(docs: Seq[String], seconds: Double)(f: String => Any): Double = {
    var n = 0L
    var sink = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9) {
      docs.foreach(d => sink += f(d).hashCode)
      n += docs.size
    }
    if (sink == 42) print("")
    (System.nanoTime() - t0) / 1e6 / n
  }

  def run(samples: Map[String, Seq[String]], folder: LocalDate): Map[String, Double] = {
    val kinds = Seq("estimate", "income", "balance", "cashflow")
    val all = samples.values.flatten.toSeq
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (all.nonEmpty) {
      // warm-up: enough calls for the parser loops to reach C2
      samples.foreach { case (k, docs) => msPerDoc(docs, 1.0)(parser(k, folder)) }
      out("extract.html_ms_per_doc") = msPerDoc(all, 0.5)(Html.parse)
    } else out("extract.html_ms_per_doc") = 0.0
    var ms, kb = 0.0
    kinds.foreach { k =>
      val v = samples.get(k).map { docs =>
        val m = msPerDoc(docs, 0.5)(parser(k, folder))
        ms += m * docs.size
        kb += docs.map(_.length).sum / 1024.0
        m
      }.getOrElse(0.0)
      out(s"extract.${k}_ms_per_doc") = v
    }
    out("extract.us_per_kb") = if (kb > 0) ms * 1000 / kb else 0.0
    out.toMap
  }
}
