package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

/** The benchmark's own input generators. They depend on the seed only —
  * never on the program — so a change to the program cannot change the
  * inputs it is measured on.
  */
object Tpch {
  // the io/TpchRdf vocabulary, restated here on purpose
  val Ns = "http://example.org/"
  val SuppliersGraph: String = Ns + "graph/suppliers"
  val World: String = Ns + "world"
  val XsdDecimal = "http://www.w3.org/2001/XMLSchema#decimal"
  val XsdDate = "http://www.w3.org/2001/XMLSchema#date"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"

  def p(local: String): String = Ns + local
  def customer(k: Long): String = s"${Ns}customer/$k"
  def nation(k: Int): String = s"${Ns}nation/$k"
  def region(k: Int): String = s"${Ns}region/$k"
  def order(k: Long): String = s"${Ns}order/$k"
  def supplier(k: Long): String = s"${Ns}supplier/$k"

  val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Vector(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4,
    "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0,
    "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Vector("F", "O", "P")

  final case class Customer(key: Long, name: String, nation: Int,
      balCents: Long, segment: String)
  final case class Order(key: Long, cust: Long, status: String,
      priceCents: Long, date: String, priority: String)
  final case class Supplier(key: Long, name: String, nation: Int,
      balCents: Long)
  final case class Tables(customers: Vector[Customer], orders: Vector[Order],
      suppliers: Vector[Supplier])

  /** TPC-H-shaped tables: `nCust` customers, ten orders per customer
    * placed only by customers whose key is not a multiple of 3 (so a
    * third have none, as in TPC-H), and `nCust / 15` suppliers.
    */
  def tables(seed: Long, nCust: Int): Tables = {
    val r = new Random(seed)
    val customers = Vector.tabulate(nCust) { i =>
      val k = i + 1L
      Customer(k, f"Customer#$k%09d", r.nextInt(25),
        -99999L + r.nextInt(1099999), Segments(r.nextInt(5)))
    }
    val buyers = customers.filter(_.key % 3 != 0).map(_.key)
    val day0 = java.time.LocalDate.of(1992, 1, 1)
    val orders = Vector.tabulate(nCust * 10) { i =>
      Order(i + 1L, buyers(r.nextInt(buyers.size)), Statuses(r.nextInt(3)),
        90000L + r.nextInt(50000000),
        day0.plusDays(r.nextInt(2400).toLong).toString,
        Priorities(r.nextInt(5)))
    }
    val suppliers = Vector.tabulate(math.max(1, nCust / 15)) { i =>
      val k = i + 1L
      Supplier(k, f"Supplier#$k%09d", r.nextInt(25),
        -99999L + r.nextInt(1099999))
    }
    Tables(customers, orders, suppliers)
  }

  def money(cents: Long): String = {
    val a = math.abs(cents)
    f"${if (cents < 0) "-" else ""}${a / 100}.${a % 100}%02d"
  }

  def iri(s: String): String = s"<$s>"
  def lit(lex: String): String = "\"" + lex + "\""
  def typed(lex: String, dt: String): String = s"${lit(lex)}^^<$dt>"

  /** The customer facts, as N-Triples terms (s, p, o) — shared by the
    * N-Quads dump and by the INSERT DATA writes of `sparql-rw`.
    */
  def customerFacts(c: Customer): Seq[(String, String, String)] = {
    val s = iri(customer(c.key))
    Seq((s, iri(p("name")), lit(c.name)),
      (s, iri(p("acctbal")), typed(money(c.balCents), XsdDecimal)),
      (s, iri(p("mktsegment")), lit(c.segment)),
      (s, iri(p("inNation")), iri(nation(c.nation))),
      (s, iri(p("locatedIn")), iri(nation(c.nation))))
  }

  /** Write the tables as N-Quads in the io/TpchRdf layout; returns the
    * number of quads written.
    */
  def writeNQuads(t: Tables, path: java.nio.file.Path): Long = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), UTF_8), 1 << 16)
    var n = 0L
    def q(s: String, pr: String, o: String, g: String = null): Unit = {
      w.write(s); w.write(' '); w.write(pr); w.write(' '); w.write(o)
      if (g != null) { w.write(' '); w.write(g) }
      w.write(" .\n"); n += 1
    }
    try {
      t.customers.foreach(c => customerFacts(c).foreach(f => q(f._1, f._2, f._3)))
      Nations.zipWithIndex.foreach { case ((name, reg), k) =>
        val s = iri(nation(k))
        q(s, iri(p("name")), lit(name))
        q(s, iri(p("inRegion")), iri(region(reg)))
        q(s, iri(p("locatedIn")), iri(region(reg)))
      }
      Regions.zipWithIndex.foreach { case (name, k) =>
        val s = iri(region(k))
        q(s, iri(p("name")), lit(name))
        q(s, iri(p("locatedIn")), iri(World))
        q(s, iri(p("label")), lit(name) + "@en")
        q(s, iri(p("label")), lit(name.toLowerCase) + "@de")
      }
      t.orders.foreach { o =>
        val s = iri(order(o.key))
        q(s, iri(p("orderedBy")), iri(customer(o.cust)))
        q(s, iri(p("totalprice")), typed(money(o.priceCents), XsdDecimal))
        q(s, iri(p("orderdate")), typed(o.date, XsdDate))
        q(s, iri(p("status")), lit(o.status))
        q(s, iri(p("priority")), lit(o.priority))
      }
      val g = iri(SuppliersGraph)
      t.suppliers.foreach { sp =>
        val s = iri(supplier(sp.key))
        q(s, iri(p("name")), lit(sp.name), g)
        q(s, iri(p("inNation")), iri(nation(sp.nation)), g)
        q(s, iri(p("acctbal")), typed(money(sp.balCents), XsdDecimal), g)
      }
    } finally w.close()
    n
  }
}

/** A document corpus with planted exact and near duplicates, and an
  * embedding table, replicated into disjoint copies the way
  * tools/ScaleUp does: ids shift by [[Corpus.IdOffset]] per replica,
  * every token of replica r > 0 gets an `r<r>x` prefix, and vectors
  * rotate by r positions.
  */
object Corpus {
  val IdOffset = 100000000L
  val Dim = 64

  final case class Doc(id: Long, text: String)
  final case class Vec(id: Long, v: Array[Float])

  private val Stop = Vector("the", "a", "of", "and", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "by", "at", "from", "this",
    "be", "or")

  /** A fixed pseudo-word vocabulary (3000 words). */
  private val Vocab: Vector[String] = {
    val cons = "bcdfghklmnprstvz"
    val vow = "aeiou"
    val syl = for (c <- cons; v <- vow) yield s"$c$v"
    val r = new Random(7)
    Vector.fill(3000)(Vector.fill(2 + r.nextInt(2))(syl(r.nextInt(syl.size)))
      .mkString).distinct
  }

  private def word(r: Random): String =
    if (r.nextInt(10) < 3) Stop(r.nextInt(Stop.size))
    else Vocab(r.nextInt(Vocab.size))

  /** Base corpus of `n` documents: 5% are a second exact copy of another
    * document; 10% form 1-token-substitution near-duplicate pairs of
    * 60–90 tokens (3-shingle Jaccard at least 55/61 = 0.90); the rest
    * are independent. Ids are 0 … n-1 in a seeded order.
    */
  def baseDocs(seed: Long, n: Int): Vector[Doc] = {
    val r = new Random(seed)
    def fresh(lo: Int, hi: Int): Vector[String] =
      Vector.fill(lo + r.nextInt(hi - lo + 1))(word(r))
    val nPairs = n / 20
    val nExact = n / 20
    val nearTexts = (0 until nPairs).flatMap { _ =>
      val a = fresh(60, 90)
      val i = 5 + r.nextInt(a.size - 10)
      var w = word(r)
      while (w == a(i)) w = word(r)
      Seq(a, a.updated(i, w))
    }
    val uniq = Vector.fill(n - 2 * nPairs - nExact)(fresh(20, 90))
    val copies = Vector.tabulate(nExact)(i => uniq(i))
    val texts = r.shuffle((nearTexts ++ uniq ++ copies).map(_.mkString(" ")))
    texts.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }.toVector
  }

  def baseVecs(seed: Long, n: Int): Vector[Vec] = {
    val r = new Random(seed ^ 0x5eedL)
    Vector.tabulate(n)(i => Vec(i.toLong,
      Array.fill(Dim)(r.nextGaussian().toFloat)))
  }

  def replicaDoc(d: Doc, rep: Int): Doc =
    if (rep == 0) d
    else Doc(d.id + rep * IdOffset,
      d.text.split(" ").map(t => s"r${rep}x$t").mkString(" "))

  def replicaVec(v: Vec, rep: Int): Vec =
    Vec(v.id + rep * IdOffset,
      if (rep == 0) v.v else v.v.drop(rep) ++ v.v.take(rep))

  def shingles(text: String, k: Int = 3): Set[String] =
    text.split(" ").sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** What a correct exact → MinHash(0.8) → clusters → apply pass must
    * produce on one replica, computed by brute force over shingle
    * postings, with no Spark and no program code.
    */
  final case class Expected(exactKept: Int, pairs: Int, kept: Int,
      keptTokens: Long)

  def expected(docs: Seq[Doc]): Expected = {
    val keepers = docs.groupBy(_.text).values.map(_.minBy(_.id)).toVector
      .sortBy(_.id)
    val sh = keepers.map(d => d.id -> shingles(d.text)).toMap
    val postings = scala.collection.mutable.HashMap.empty[String, List[Long]]
    keepers.foreach(d => sh(d.id).foreach(s =>
      postings(s) = d.id :: postings.getOrElse(s, Nil)))
    val cands = postings.valuesIterator.filter(_.size <= 64)
      .flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    val pairs = cands.filter { case (a, b) =>
      val (x, y) = (sh(a), sh(b))
      val inter = x.count(y)
      inter * 10 >= (x.size + y.size - inter) * 8
    }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val kept = keepers.filter(d => find(d.id) == d.id)
    Expected(keepers.size, pairs.size, kept.size,
      kept.map(_.text.split(" ").length.toLong).sum)
  }
}
