package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import Tpch._

/** An expected answer, in a normal form both sides are reduced to:
  * IRIs as `<iri>`, numbers as `num:<canonical decimal>`, other literals
  * as `"lex"`, `"lex"@lang` or `"lex"^^<datatype>`.
  */
sealed trait Answer
final case class Rows(rows: Seq[Map[String, String]], ordered: Boolean)
  extends Answer
final case class Bool(value: Boolean) extends Answer
final case class Graph(triples: Set[String]) extends Answer
case object Updated extends Answer

/** One request of a workload. `template` is 0–7 for reads, 8 for an
  * INSERT DATA and 9 for a DELETE DATA.
  */
final case class Req(template: Int, text: String, expect: Answer) {
  def isUpdate: Boolean = template >= 8
  def isGraph: Boolean = template == 7
}

object Req {
  val Names = Vector("point", "star", "group", "path", "optional", "ask",
    "not-exists", "construct", "insert", "delete")
}

/** The dataset as the requests have changed it so far: the generated
  * tables plus the customers inserted and the balances deleted. Expected
  * answers are computed from it with plain collections — no Spark and no
  * program code.
  */
final class Model(t: Tables) {
  val customers: mutable.LinkedHashMap[Long, Customer] =
    mutable.LinkedHashMap.from(t.customers.map(c => c.key -> c))
  val noBalance: mutable.Set[Long] = mutable.Set.empty
  val ordersOf: Map[Long, Vector[Order]] = t.orders.groupBy(_.cust)
  val buyers: Vector[Long] = ordersOf.keys.toVector.sorted
  val original: Vector[Long] = t.customers.map(_.key)

  def inNation(n: Int): Iterable[Customer] =
    customers.values.filter(_.nation == n)
}

object Answers {
  private val Numeric = Set(XsdDecimal, XsdInteger,
    "http://www.w3.org/2001/XMLSchema#double",
    "http://www.w3.org/2001/XMLSchema#float",
    "http://www.w3.org/2001/XMLSchema#long",
    "http://www.w3.org/2001/XMLSchema#int")
  private val XsdString = "http://www.w3.org/2001/XMLSchema#string"

  def num(lex: String): String =
    "num:" + new java.math.BigDecimal(lex.trim).stripTrailingZeros
      .toPlainString

  def term(kind: String, value: String, dt: String, lang: String): String =
    kind match {
      case "uri" => s"<$value>"
      case "bnode" => s"_:$value"
      case _ =>
        if (lang != null) "\"" + value + "\"@" + lang
        else if (dt == null || dt == XsdString) "\"" + value + "\""
        else if (Numeric(dt)) num(value)
        else "\"" + value + "\"^^<" + dt + ">"
    }

  /** Normal form of an N-Triples term as written by the generators. */
  def ntTerm(t: String): String =
    if (t.startsWith("<")) t
    else if (t.startsWith("_:")) t
    else {
      val close = t.lastIndexOf('"')
      val lex = t.substring(1, close)
      val rest = t.substring(close + 1)
      if (rest.startsWith("@")) term("literal", lex, null, rest.drop(1))
      else if (rest.startsWith("^^<"))
        term("literal", lex, rest.drop(3).dropRight(1), null)
      else term("literal", lex, null, null)
    }

  private val mapper = new ObjectMapper()

  /** Parse a response body into the normal form of `like`. */
  def parse(body: String, like: Answer): Answer = like match {
    case _: Graph =>
      Graph(body.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map {
        l =>
          val s = l.stripSuffix(".").trim
          val a = s.indexOf(' ')
          val b = s.indexOf(' ', a + 1)
          Seq(s.substring(0, a), s.substring(a + 1, b), s.substring(b + 1))
            .map(ntTerm).mkString(" ")
      }.toSet)
    case Updated => Updated
    case _ =>
      val root = mapper.readTree(body)
      if (root.has("boolean")) Bool(root.get("boolean").asBoolean)
      else {
        val rows = root.get("results").get("bindings").elements.asScala.map {
          b =>
            b.fields.asScala.map { e =>
              val v: JsonNode = e.getValue
              def f(k: String) = Option(v.get(k)).map(_.asText).orNull
              e.getKey -> term(f("type"), f("value"), f("datatype"),
                f("xml:lang"))
            }.toMap
        }.toVector
        Rows(rows, like match { case Rows(_, o) => o; case _ => false })
      }
  }

  /** None when `got` matches `want`, else a short description. */
  def diff(want: Answer, got: Answer): Option[String] = (want, got) match {
    case (Rows(w, true), Rows(g, _)) =>
      if (w == g) None else Some(s"ordered rows differ: want ${w.take(3)} got ${g.take(3)}")
    case (Rows(w, false), Rows(g, _)) =>
      def key(r: Map[String, String]) = r.toSeq.sorted.mkString("|")
      if (w.map(key).sorted == g.map(key).sorted) None
      else Some(s"rows differ: want ${w.size} rows, got ${g.size}")
    case (w, g) => if (w == g) None else Some(s"want $w got $g")
  }
}

/** The request mix: eight read templates taken round-robin in a fixed
  * order, client `c` starting at template 2c, with constants drawn from
  * the seed — so every seed sends the same blend of query shapes and
  * only the constants (and so the answers) differ.
  * With `writeEvery` > 0 every `writeEvery`-th request is a write, and
  * the read after it targets what it wrote.
  */
final class RequestStream(seed: Long, client: Int, model: Model,
    writeEvery: Int = 0) {
  private val r = new Random(seed * 1000003L + client)
  private var n = 0
  private var reads = 2 * client
  private var lastWritten: Option[Long] = None
  private var writes = 0

  private val Pre = s"PREFIX : <$Ns>\n"
  private def c(k: Long) = s"<${customer(k)}>"
  private def pick[T](v: IndexedSeq[T]): T = v(r.nextInt(v.size))

  def next(): Req = {
    n += 1
    if (writeEvery > 0 && n % writeEvery == 0) write()
    else {
      reads += 1
      val focus = lastWritten.map(model.customers)
      lastWritten = None
      read((reads - 1) % 8, focus)
    }
  }

  private def row(kv: (String, String)*): Map[String, String] = kv.toMap

  /** Template `t`; after a write, `focus` is the written customer and
    * the read targets it (its key, or its nation and segment).
    */
  private def read(t: Int, focus: Option[Customer]): Req = {
    def key(pool: => IndexedSeq[Long]) = focus.map(_.key).getOrElse(pick(pool))
    def someNation() = focus.map(_.nation).getOrElse(r.nextInt(25))
    def someSegment() = focus.map(_.segment).getOrElse(pick(Segments))
    def ordersOf(k: Long) = model.ordersOf.getOrElse(k, Vector.empty)
    t match {
    case 0 =>
      val k = key(model.customers.keysIterator.toVector)
      val facts = customerFacts(model.customers(k)).filterNot(f =>
        model.noBalance(k) && f._2 == s"<${p("acctbal")}>")
      Req(0, Pre + s"SELECT ?p ?o WHERE { ${c(k)} ?p ?o }",
        Rows(facts.map(f => row("p" -> f._2, "o" -> Answers.ntTerm(f._3))),
          ordered = false))
    case 1 =>
      val nat = someNation(); val seg = someSegment()
      val min = r.nextInt(6000)
      val hits = model.inNation(nat).filter(cu => cu.segment == seg &&
        !model.noBalance(cu.key) && cu.balCents > min * 100L)
        .toVector.sortBy(cu => (-cu.balCents, cu.name)).take(10)
      Req(1, Pre + s"""SELECT ?c ?name ?bal WHERE {
        |  ?c :mktsegment "$seg" ; :inNation <${nation(nat)}> ;
        |     :name ?name ; :acctbal ?bal .
        |  FILTER(?bal > $min)
        |} ORDER BY DESC(?bal) ?name LIMIT 10""".stripMargin,
        Rows(hits.map(cu => row("c" -> c(cu.key), "name" -> s""""${cu.name}"""",
          "bal" -> Answers.num(money(cu.balCents)))), ordered = true))
    case 2 =>
      val nat = someNation()
      val groups = model.inNation(nat).filterNot(cu => model.noBalance(cu.key))
        .groupBy(_.segment)
      Req(2, Pre + s"""SELECT ?seg (COUNT(?c) AS ?n) (SUM(?bal) AS ?total) WHERE {
        |  ?c :inNation <${nation(nat)}> ; :mktsegment ?seg ; :acctbal ?bal .
        |} GROUP BY ?seg""".stripMargin,
        Rows(groups.toSeq.map { case (seg, cs) =>
          row("seg" -> s""""$seg"""", "n" -> Answers.num(cs.size.toString),
            "total" -> Answers.num(money(cs.map(_.balCents).sum)))
        }, ordered = false))
    case 3 =>
      val k = key(model.customers.keysIterator.toVector)
      val nat = model.customers(k).nation
      Req(3, Pre + s"SELECT ?x WHERE { ${c(k)} :locatedIn+ ?x }",
        Rows(Seq(nation(nat), region(Nations(nat)._2), World)
          .map(x => row("x" -> s"<$x>")), ordered = false))
    case 4 =>
      val k = key(model.buyers)
      Req(4, Pre + s"""SELECT ?o ?date ?prio WHERE {
        |  ?o :orderedBy ${c(k)} ; :orderdate ?date .
        |  OPTIONAL { ?o :priority ?prio FILTER(?prio = "1-URGENT") }
        |}""".stripMargin,
        Rows(ordersOf(k).map { o =>
          val base = Seq("o" -> s"<${order(o.key)}>",
            "date" -> Answers.ntTerm(typed(o.date, XsdDate)))
          (if (o.priority == "1-URGENT") base :+ ("prio" -> "\"1-URGENT\"")
           else base).toMap
        }, ordered = false))
    case 5 =>
      val k = key(model.customers.keysIterator.toVector)
      val seg = if (r.nextBoolean()) model.customers(k).segment
        else pick(Segments)
      Req(5, Pre + s"""ASK { ${c(k)} :mktsegment "$seg" }""",
        Bool(model.customers(k).segment == seg))
    case 6 =>
      val nat = someNation(); val seg = someSegment()
      val hits = model.inNation(nat).filter(cu =>
        cu.segment == seg && !model.ordersOf.contains(cu.key))
      Req(6, Pre + s"""SELECT ?c WHERE {
        |  ?c :inNation <${nation(nat)}> ; :mktsegment "$seg" .
        |  FILTER NOT EXISTS { ?o :orderedBy ?c }
        |}""".stripMargin,
        Rows(hits.toSeq.map(cu => row("c" -> c(cu.key))), ordered = false))
    case 7 =>
      val k = key(model.buyers)
      Req(7, Pre + s"""CONSTRUCT { ?o :totalprice ?p } WHERE {
        |  ?o :orderedBy ${c(k)} ; :totalprice ?p }""".stripMargin,
        Graph(ordersOf(k).map(o => Seq(s"<${order(o.key)}>",
          s"<${p("totalprice")}>",
          Answers.num(money(o.priceCents))).mkString(" ")).toSet))
    }
  }

  /** Alternately insert a new customer and delete the balance of an
    * original one; the next read targets the written customer, so every
    * write is read back.
    */
  private def write(): Req = {
    writes += 1
    if (writes % 2 == 1) {
      val k = 10000000L + writes
      val cu = Customer(k, f"Customer#$k%09d", r.nextInt(25),
        -99999L + r.nextInt(1099999), pick(Segments))
      model.customers(k) = cu
      lastWritten = Some(k)
      Req(8, Pre + "INSERT DATA {\n" + customerFacts(cu)
        .map(f => s"  ${f._1} ${f._2} ${f._3} .").mkString("\n") + "\n}",
        Updated)
    } else {
      var k = pick(model.original)
      while (model.noBalance(k)) k = pick(model.original)
      val cu = model.customers(k)
      model.noBalance += k
      lastWritten = Some(k)
      Req(9, Pre + s"DELETE DATA { ${c(k)} :acctbal " +
        s"${typed(money(cu.balCents), XsdDecimal)} }", Updated)
    }
  }
}
