package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness's own code: statistics, span accounting,
  * request generation and the output checks. No Spark session is needed.
  */
class SelfSpec extends AnyFunSuite {

  test("tail is the highest percentile with 10 samples beyond it") {
    val t = Stats.tail((1 to 100).map(_.toDouble))
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
    val u = Stats.tail((1 to 40).map(_.toDouble).reverse)
    assert(u.value == 30.0 && u.percentile == 75.0 && u.samples == 40)
    // too few samples: the maximum, reported as p100
    val v = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(v.value == 3.0 && v.percentile == 100.0 && v.samples == 3)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time is a span minus its direct children") {
    val spans = Seq(
      Span(1, -1, "request", 0, 100),
      Span(2, 1, "parse", 0, 10),
      Span(3, 1, "translate", 10, 40),
      Span(4, 3, "inner", 15, 35),
      Span(5, 1, "results", 40, 90))
    assert(Recorder.selfMs(spans.head, spans) == 100 - 10 - 30 - 50)
    assert(Recorder.selfMs(spans(2), spans) == 30 - 20)
    assert(Recorder.selfMs(spans(3), spans) == 20)
    assert(Recorder.subtree(spans(2), spans) == Set(3, 4))
  }

  test("job cover is the union of job intervals, clipped to the span") {
    def job(id: Int, span: Int, s: Long, e: Long) = {
      val j = new JobRec(id, span, s); j.endMs = e; j
    }
    val spans = Seq(Span(1, -1, "request", 0, 100), Span(2, 1, "results", 50, 100))
    val jobs = Seq(job(0, 2, 60, 70), job(1, 2, 65, 80), job(2, 1, 90, 130))
    // 60–80 from the two overlapping jobs, 90–100 from the clipped one
    assert(Recorder.jobCoverMs(spans(1), jobs) == 20 + 10)
    assert(Recorder.driverOnlyMs(spans.head, spans, jobs) == 100 - 30)
    // results self time (no children) minus its own jobs' 20 ms
    assert(Recorder.selfMinusJobsMs(spans(1), spans, jobs) == 50 - 20)
  }

  private val tables = Tpch.tables(1, 300)

  private def texts(seed: Long, writeEvery: Int, n: Int): Seq[String] = {
    val s = new RequestStream(seed, 0, new Model(tables), writeEvery)
    Seq.fill(n)(s.next().text)
  }

  test("the same seed gives the same requests, another seed others") {
    assert(texts(7, 0, 40) == texts(7, 0, 40))
    assert(texts(7, 4, 40) == texts(7, 4, 40))
    assert(texts(7, 0, 40) != texts(8, 0, 40))
    assert(texts(7, 4, 40) != texts(8, 4, 40))
  }

  test("every 4th request of the write mix is a write, read back next") {
    val m = new Model(tables)
    val s = new RequestStream(3, 0, m, 4)
    val qs = Seq.fill(17)(s.next())
    assert(qs.zipWithIndex.filter(_._1.isUpdate).map(_._2) == Seq(3, 7, 11, 15))
    assert(qs.filter(_.isUpdate).map(_.template) == Seq(8, 9, 8, 9))
    qs.sliding(2).filter(_.head.isUpdate).foreach { case Seq(w, rd) =>
      val k = "customer/(\\d+)".r.findFirstMatchIn(w.text).get.group(1).toLong
      val nat = m.customers(k).nation
      assert(!rd.isUpdate)
      assert(rd.text.contains(s"customer/$k>") || rd.text.contains(s"nation/$nat>"))
    }
  }

  test("the output check accepts the right answer and rejects a wrong one") {
    val s = new RequestStream(5, 0, new Model(tables))
    val point = s.next() // client 0 starts with the point lookup
    assert(point.template == 0)
    val Rows(rows, _) = point.expect
    def json(rs: Seq[Map[String, String]]) = rs.map { r =>
      r.map { case (k, v) =>
        val term =
          if (v.startsWith("<")) s"""{"type":"uri","value":"${v.drop(1).dropRight(1)}"}"""
          else if (v.startsWith("num:"))
            s"""{"type":"literal","value":"${v.drop(4)}","datatype":"${Tpch.XsdDecimal}"}"""
          else s"""{"type":"literal","value":${v}}"""
        s""""$k":$term"""
      }.mkString("{", ",", "}")
    }.mkString("""{"head":{"vars":["p","o"]},"results":{"bindings":[""", ",", "]}}")
    val good = Answers.parse(json(rows), point.expect)
    assert(Answers.diff(point.expect, good).isEmpty)
    val wrong = rows.updated(0, rows.head.updated("o", "\"nobody\""))
    assert(Answers.diff(point.expect, Answers.parse(json(wrong), point.expect)).nonEmpty)
    assert(Answers.diff(point.expect, Answers.parse(json(rows.tail), point.expect)).nonEmpty)
    assert(Answers.diff(Bool(true), Bool(false)).nonEmpty)
  }

  test("numbers compare by value, not by lexical form") {
    assert(Answers.num("12.50") == Answers.num("12.5"))
    assert(Answers.term("literal", "3", Tpch.XsdInteger, null) ==
      Answers.term("literal", "3.00", Tpch.XsdDecimal, null))
  }

  test("the corpus plants the duplicates its expectation counts") {
    val docs = Corpus.baseDocs(9, 400)
    val want = Corpus.expected(docs)
    assert(want.exactKept == 400 - 20)
    assert(want.pairs == 20)
    assert(want.kept == 400 - 20 - 20)
    // replicas are disjoint: no shingle is shared across replicas
    val r1 = docs.map(Corpus.replicaDoc(_, 1))
    assert(Corpus.expected(docs ++ r1).pairs == 40)
  }
}
