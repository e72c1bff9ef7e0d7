package perfbench

import java.time.LocalDate
import scala.collection.mutable

/** A text value twice: as the loader must store it (`truth`) and as
  * Tally writes it inside an XML element (`xml`). The special forms
  * are built in pairs, so the truth never comes from parsing the XML. */
final case class Txt(truth: String, xml: String)

object Txt {
  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")
  def of(s: String): Txt = Txt(s, escape(s))
  val Empty: Txt = of("")

  /** The emitted forms the loader's XML rewrite must undo: a CRLF
    * line break (with and without trailing blanks), a tab, escaped
    * markup, and `&#nn;` / `&tab;` entities, which the loader drops. */
  def narration(kind: Int, a: String, b: String): Txt = kind match {
    case 1 => Txt(a + b, s"$a\r\n$b")
    case 2 => Txt(a + b, s"$a  \r\n$b")
    case 3 => Txt(s"$a $b", s"$a\t$b")
    case 4 => of(s"R&D <$a> \"$b\" isn't")
    case 5 => Txt(a + b, s"$a&#4;$b")
    case 6 => Txt(a + b, s"$a&#13;&#10;&tab;$b")
    case 7 => Empty
    case _ => of(s"$a $b")
  }
}

final class Group(val guid: String, val alterId: Long, val name: Txt,
    val parent: Txt, val primary: Txt, val isRevenue: Boolean,
    val deemedPositive: Boolean, val affectsGrossProfit: Boolean)

final class Ledger(val guid: String, val alterId: Long, val name: Txt,
    val parent: Txt, val opening: BigDecimal, val isRevenue: Boolean,
    val gstn: Txt, val closing: Seq[(LocalDate, BigDecimal)])

final class VoucherType(val guid: String, val alterId: Long,
    val name: Txt, val parent: Txt, val numbering: String,
    val affectsStock: Boolean) {
  def automatic: Boolean = numbering == "Automatic"
}

final case class Batch(qty: BigDecimal, value: BigDecimal, godown: Txt)

final class Item(val guid: String, val alterId: Long, val name: Txt,
    val parent: Txt, val uom: Txt, val openQty: BigDecimal,
    val openValue: BigDecimal, val batches: Seq[Batch])

final case class Leg(ledger: Ledger, amount: BigDecimal, forex: BigDecimal,
    currency: String)

final case class InvLeg(item: Item, qty: BigDecimal, rate: BigDecimal,
    amount: BigDecimal, godown: Txt, tracking: Txt)

final class Voucher(val guid: String, var alterId: Long,
    val date: LocalDate, val vtype: VoucherType, var number: String,
    val refDate: Option[LocalDate], val party: Option[Ledger],
    var narration: Txt, val isInvoice: Boolean, val isAccounting: Boolean,
    val isInventory: Boolean, val isOrder: Boolean,
    var legs: Vector[Leg], var inventory: Vector[InvLeg],
    val ordinal: Long) {
  /** Rendered rows, per route; null until rendered. */
  var rendered: Array[String] = _
  var legRows: Array[Array[String]] = _
  var invRows: Array[Array[String]] = _
}

/** One parent record of a route as the fake Tally serves it: the
  * alterid its `$AlterID > n` filter tests, whether it passes the
  * auto-numbering filter, and its rendered rows (one for a top-level
  * collection, zero or more for a sub-collection). */
final case class Served(alterId: Long, autoNumbered: Boolean,
    rows: Array[Array[String]])

/** What one change batch did, as the merge must report it. */
final case class BatchSummary(
    masterChanged: Boolean, transactionChanged: Boolean,
    deleted: Map[String, Long], appended: Map[String, Long],
    renumbered: Boolean, rowsChanged: Long) {
  def idle: Boolean = !masterChanged && !transactionChanged
}

/** Seeded Tally company: the nine report tables at `scale` × the
  * fixture bulk law (10,000 vouchers with two accounting legs each,
  * 40 party ledgers, a 280-node group forest), with inventory legs on
  * sales and purchases. Values carry Tally's emitted forms: escaped
  * markup, multi-line narrations, tabs, `&#nn;` entities, the `ñ`
  * empty date, `(-)` negatives and rates with a unit suffix.
  *
  * The company is mutable: [[applyBatch]] applies one seeded change
  * batch (inserts, alters, deletes and a mid-series insert into the
  * auto-numbered Sales series) and returns what an incremental merge
  * must report for it. */
final class Company(val seed: Long, val scale: Double) {
  import Company._

  private val rng = new scala.util.Random(seed)
  private def scaled(n: Int): Int = math.max(1, math.round(n * scale).toInt)

  val vouchersAtStart: Int = scaled(10000)
  val partyCount: Int = scaled(40)
  val bulkGroups: Int = scaled(280)
  val groupChains: Int = math.max(1, scaled(40))
  val itemCount: Int = scaled(20)

  var masterAlterId = 0L
  var txnAlterId = 0L
  private def nextMaster(): Long = { masterAlterId += 1; masterAlterId }
  private def nextTxn(): Long = { txnAlterId += 1; txnAlterId }
  private var ordinals = 0L
  private var inserted = 0

  val groups: Vector[Group] = {
    def g(n: String, p: String, pg: String, rev: Int, dp: Int, gp: Int) =
      new Group(s"grp-$n", nextMaster(), Txt.of(n), Txt.of(p), Txt.of(pg),
        rev == 1, dp == 1, gp == 1)
    val fixed = Vector(
      g("Sales Accounts", "", "Sales Accounts", 1, 0, 1),
      g("Purchase Accounts", "", "Purchase Accounts", 1, 1, 1),
      g("Cash-in-hand", "", "Cash-in-hand", 0, 1, 0),
      g("Sundry Debtors", "", "Sundry Debtors", 0, 1, 0),
      g("Sundry Creditors", "", "Sundry Creditors", 0, 0, 0),
      g("Stock-in-hand", "", "Stock-in-hand", 0, 1, 0),
      g("Indirect Expenses", "", "Indirect Expenses", 1, 1, 0),
      g("Loans & Advances (Asset)", "", "Loans & Advances (Asset)", 0, 1, 0),
      g("Advances", "Loans & Advances (Asset)", "Loans & Advances (Asset)", 0, 1, 0),
      g("Staff Advances", "Advances", "Loans & Advances (Asset)", 0, 1, 0),
      g("Field Advances", "Staff Advances", "Loans & Advances (Asset)", 0, 1, 0),
      g("Temp Advances", "Field Advances", "Loans & Advances (Asset)", 0, 1, 0))
    fixed ++ (0 until bulkGroups).map { i =>
      val parent = if (i < groupChains) "Staff Advances"
        else s"BG ${i - groupChains}"
      g(s"BG $i", parent, "Loans & Advances (Asset)", 0, 1, 0)
    }
  }

  /** Deepest node of the group forest (the ancestor-walk report's
    * start). */
  def deepestGroup: String = s"BG ${bulkGroups - 1}"

  val ledgers: mutable.LinkedHashMap[String, Ledger] = {
    val m = mutable.LinkedHashMap[String, Ledger]()
    def l(guid: String, n: String, p: String, op: String, rev: Boolean,
        gstn: String, closing: Seq[(LocalDate, BigDecimal)] = Nil): Unit =
      m(guid) = new Ledger(guid, nextMaster(), Txt.of(n), Txt.of(p),
        BigDecimal(op).setScale(2), rev, Txt.of(gstn), closing)
    l("L001", "Cash", "Cash-in-hand", "-1000.00", rev = false, "")
    l("L002", "Sales Local", "Sales Accounts", "0.00", rev = true, "")
    l("L003", "Purchase Local", "Purchase Accounts", "0.00", rev = true, "")
    l("L004", "Acme Corp", "Sundry Debtors", "-500.00", rev = false, "GSTN001")
    l("L005", "Beta Traders", "Sundry Creditors", "200.00", rev = false, "GSTN002")
    l("L006", "Stock Ledger", "Stock-in-hand", "-2000.00", rev = false, "",
      Seq(LocalDate.parse("2020-12-31") -> BigDecimal("1800.00"),
        LocalDate.parse("2021-03-31") -> BigDecimal("2500.00")))
    l("L007", "Rent", "Indirect Expenses", "0.00", rev = true, "")
    (0 until partyCount).foreach { j =>
      val name =
        if (j % 9 == 4) s"Party $j & Sons"
        else if (j % 13 == 6) s"O'Neil Party $j"
        else s"Party $j"
      l(f"GP$j%05d", name,
        if (j % 2 == 0) "Sundry Debtors" else "Sundry Creditors",
        s"${rng.nextInt(500) - 250}.00", rev = false,
        if (j % 3 == 0) s"GSTN$j" else "")
    }
    m
  }
  private def ledger(name: String): Ledger =
    ledgers.valuesIterator.find(_.name.truth == name).get
  private val parties: Vector[Ledger] =
    ledgers.valuesIterator.filter(_.guid.startsWith("GP")).toVector

  val voucherTypes: Vector[VoucherType] = Vector(
    ("Sales", "Automatic", false), ("Purchase", "Manual", false),
    ("Receipt", "Manual", false), ("Payment", "Manual", false),
    ("Contra", "Manual", false), ("Receipt Note", "Manual", true),
    ("Delivery Note", "Manual", true), ("Sales Order", "Manual", false))
    .map { case (n, num, st) =>
      new VoucherType(s"vt-$n", nextMaster(), Txt.of(n), Txt.of(n), num, st)
    }
  private def vtype(name: String) = voucherTypes.find(_.name.truth == name).get

  val items: Vector[Item] = {
    def it(n: String, p: String, qty: String, value: String,
        godown: String = "Main"): Item = {
      val q = BigDecimal(qty).setScale(4)
      val v = BigDecimal(value).setScale(2)
      new Item(s"it-$n", nextMaster(), Txt.of(n), Txt.of(p), Txt.of("Nos"),
        q, v, if (q == 0) Nil else Seq(Batch(q, v, Txt.of(godown))))
    }
    Vector(it("Widget", "Components", "10", "-100.00"),
      it("Gadget", "Components", "0", "0.00"),
      it("Gizmo", "Finished", "5", "-50.00")) ++
      (0 until itemCount).map { j =>
        val q = rng.nextInt(20)
        it(s"Item $j", if (j % 2 == 0) "Components" else "Finished",
          q.toString, s"${-q * (10 + j % 7)}.00",
          if (j % 5 == 0) "Store & Yard" else "Main")
      }
  }
  private def item(name: String) = items.find(_.name.truth == name).get

  val vouchers: mutable.LinkedHashMap[String, Voucher] =
    mutable.LinkedHashMap[String, Voucher]()

  private val FyStart = LocalDate.parse("2020-04-01")
  val FyEnd: LocalDate = LocalDate.parse("2021-03-31")

  private def dec2(s: String) = BigDecimal(s).setScale(2)
  private def dec4(s: String) = BigDecimal(s).setScale(4)

  private def addVoucher(v: Voucher): Unit = vouchers(v.guid) = v

  // the fixture's handcrafted vouchers: every voucher class, an order
  // voucher, the three inventory tracking workflows, a contra voucher
  // with both legs on one ledger and two forex invoices
  locally {
    def v(g: String, d: String, t: String, num: String, party: String,
        narr: String, inv: Int, acc: Int, invv: Int, ord: Int,
        legs: Seq[(String, String, String, String)],
        invLegs: Seq[(String, String, String, String, String)] = Nil): Unit = {
      ordinals += 1
      addVoucher(new Voucher(g, nextTxn(), LocalDate.parse(d), vtype(t), num,
        None, if (party.isEmpty) None else Some(ledger(party)),
        Txt.of(narr), inv == 1, acc == 1, invv == 1, ord == 1,
        legs.map { case (l, a, fx, cur) =>
          Leg(ledger(l), dec2(a), dec2(fx), cur) }.toVector,
        invLegs.map { case (i, q, r, a, tr) =>
          InvLeg(item(i), dec4(q), dec4(r), dec2(a), Txt.of("Main"),
            Txt.of(tr)) }.toVector,
        ordinals))
    }
    v("v001", "2020-04-05", "Sales", "", "Acme Corp", "April sale", 1, 1, 0, 0,
      Seq(("Acme Corp", "-1000.00", "-12.50", "$"),
        ("Sales Local", "1000.00", "12.50", "$")))
    v("v002", "2020-04-08", "Receipt", "RC-1", "Acme Corp", "collection", 0, 1, 0, 0,
      Seq(("Cash", "-600.00", "0.00", "₹"), ("Acme Corp", "600.00", "0.00", "₹")))
    v("v003", "2020-05-10", "Purchase", "PU-1", "Beta Traders", "stock buy", 1, 1, 0, 0,
      Seq(("Purchase Local", "-400.00", "-4.40", "€"),
        ("Beta Traders", "400.00", "4.40", "€")))
    v("v004", "2020-05-12", "Payment", "PY-1", "Beta Traders", "supplier pay", 0, 1, 0, 0,
      Seq(("Beta Traders", "-250.00", "0.00", "₹"), ("Cash", "250.00", "0.00", "₹")))
    v("v005", "2020-06-01", "Contra", "CT-1", "", "cash shuffle", 0, 1, 0, 0,
      Seq(("Cash", "-100.00", "0.00", "₹"), ("Cash", "100.00", "0.00", "₹")))
    v("v006", "2020-04-20", "Delivery Note", "DN-1", "Acme Corp", "goods out", 0, 0, 1, 0,
      Nil, Seq(("Widget", "-3", "100", "300.00", "T1")))
    v("v007", "2020-04-25", "Sales", "", "Acme Corp", "invoice for DN-1", 1, 1, 0, 0,
      Seq(("Acme Corp", "-500.00", "0.00", "₹"), ("Sales Local", "500.00", "0.00", "₹")),
      Seq(("Widget", "-3", "100", "300.00", "T1")))
    v("v008", "2020-07-01", "Receipt Note", "RN-1", "Beta Traders",
      "goods in, no invoice yet", 0, 0, 1, 0,
      Nil, Seq(("Gadget", "7", "50", "-350.00", "T2")))
    v("v009", "2020-08-01", "Sales Order", "SO-1", "Acme Corp", "order only", 0, 0, 0, 1,
      Seq(("Acme Corp", "-999.00", "0.00", "₹"), ("Sales Local", "999.00", "0.00", "₹")),
      Seq(("Widget", "-9", "100", "900.00", "")))
    v("v010", "2021-01-15", "Sales", "", "Acme Corp", "direct sale", 1, 1, 0, 0,
      Seq(("Acme Corp", "-300.00", "0.00", "₹"), ("Sales Local", "300.00", "0.00", "₹")),
      Seq(("Widget", "-2", "110", "220.00", "")))
  }

  private val BulkTypes = Vector("Sales", "Purchase", "Receipt", "Payment")

  /** A generated voucher of the bulk law: two accounting legs
    * (party against Sales Local / Purchase Local / Cash), plus an
    * inventory leg on sales and purchases. */
  private def bulkVoucher(r: scala.util.Random, guid: String, kind: Int,
      date: LocalDate): Voucher = {
    val t = BulkTypes(kind)
    val party = parties(r.nextInt(parties.size))
    val amount = BigDecimal(100 + r.nextInt(900)) +
      BigDecimal(r.nextInt(4)) * BigDecimal("0.25")
    val forex = r.nextInt(50) == 0
    val fx = if (forex) (amount / 80).setScale(2, BigDecimal.RoundingMode.DOWN)
      else BigDecimal(0)
    val cur = if (forex) "$" else "₹"
    val (debit, credit) = t match {
      case "Sales" => (party, ledger("Sales Local"))
      case "Purchase" => (ledger("Purchase Local"), party)
      case "Receipt" => (ledger("Cash"), party)
      case _ => (party, ledger("Cash"))
    }
    val legs = Vector(
      Leg(debit, (-amount).setScale(2), (-fx).setScale(2), cur),
      Leg(credit, amount.setScale(2), fx.setScale(2), cur))
    val inv =
      if (kind > 1) Vector.empty
      else {
        val it = items(r.nextInt(items.size))
        val q = BigDecimal(1 + r.nextInt(9))
        val rate = BigDecimal(10 + r.nextInt(90)) + BigDecimal("0.50")
        val outward = kind == 0
        Vector(InvLeg(it, (if (outward) -q else q).setScale(4),
          rate.setScale(4),
          (if (outward) q * rate else -(q * rate)).setScale(2),
          Txt.of(if (r.nextInt(7) == 0) "Store & Yard" else "Main"),
          Txt.Empty))
      }
    ordinals += 1
    val n = ordinals
    new Voucher(guid, nextTxn(), date, vtype(t),
      if (t == "Sales") "" else s"B-$n",
      if (r.nextInt(3) == 0) Some(date.minusDays(r.nextInt(30))) else None,
      Some(party), Txt.narration(r.nextInt(8), s"bulk $n", "line two"),
      kind <= 1, isAccounting = true, isInventory = false, isOrder = false,
      legs, inv, n)
  }

  (0 until vouchersAtStart).foreach { i =>
    addVoucher(bulkVoucher(rng, f"g$i%07d", i % 4,
      FyStart.plusDays(rng.nextInt(365))))
  }
  renumber()

  /** Auto numbering: an automatic type's vouchers are numbered 1..n
    * in (date, entry order), so an insert before the last voucher
    * shifts every later number. Returns how many numbers changed. */
  private def renumber(): Int = {
    var changed = 0
    voucherTypes.filter(_.automatic).foreach { t =>
      vouchers.valuesIterator.filter(_.vtype eq t).toVector
        .sortBy(v => (v.date.toEpochDay, v.ordinal)).zipWithIndex
        .foreach { case (v, i) =>
          val n = (i + 1).toString
          if (v.number != n) {
            if (v.number.nonEmpty) changed += 1
            v.number = n; v.rendered = null
          }
        }
    }
    changed
  }

  /** Apply change batch `tick`. Ticks alternate between a change and
    * no change at all (a watermark poll). A change inserts ~0.5%,
    * alters ~0.2% and deletes ~0.1% of the vouchers and inserts a
    * Sales voucher mid-series (a renumber). It changes no master: a
    * master change adds a second merge group, which nearly doubles a
    * tick's Spark jobs. */
  def applyBatch(tick: Int): BatchSummary = {
    if (tick % TickCycle == 1)
      return BatchSummary(masterChanged = false, transactionChanged = false,
        Map.empty, Map.empty, renumbered = false, rowsChanged = 0L)
    val r = new scala.util.Random(seed * 1000003L + tick)
    val n = vouchers.size
    val nIns = math.max(1, n / 200)
    val nAlt = math.max(1, n / 500)
    val nDel = math.max(1, n / 1000)
    // deletes avoid the auto-numbered type (no renumber on delete)
    // and every pick is distinct, so no voucher is touched twice
    val pool = r.shuffle(vouchers.keysIterator.toVector)
    val dels = pool.iterator.filter(g => !vouchers(g).vtype.automatic)
      .take(nDel).toVector
    val alts = pool.iterator.filterNot(dels.toSet).take(nAlt).toVector
    var rowsChanged = 0L
    dels.foreach { g =>
      val v = vouchers.remove(g).get
      rowsChanged += 1 + v.legs.size + v.inventory.size
    }
    val touched = mutable.Buffer[Voucher]()
    alts.foreach { g =>
      val v = vouchers(g)
      v.alterId = nextTxn()
      v.narration = Txt.narration(r.nextInt(8), s"altered $tick", v.guid)
      val delta = BigDecimal(r.nextInt(50))
      v.legs = v.legs.map(l => l.copy(
        amount = (l.amount + delta * BigDecimal(l.amount.signum)).setScale(2)))
      v.rendered = null; v.legRows = null
      rowsChanged += 1 + v.legs.size + v.inventory.size
      touched += v
    }
    def insert(kindOf: Int, date: LocalDate): Unit = {
      inserted += 1
      val v = bulkVoucher(r, f"n$inserted%07d", kindOf, date)
      addVoucher(v)
      rowsChanged += 1 + v.legs.size + v.inventory.size
      touched += v
    }
    // sales inserts land on the last day: they append to the series
    (0 until nIns).foreach { _ =>
      val k = r.nextInt(4)
      insert(k, if (k == 0) FyEnd else FyStart.plusDays(r.nextInt(365)))
    }
    // a fixed distance from the end of the series, so every tick
    // renumbers about the same share of it
    insert(0, FyEnd.minusDays(10))
    rowsChanged += renumber()
    val legsIn = touched.map(_.legs.size.toLong).sum
    val invIn = touched.map(_.inventory.size.toLong).sum
    BatchSummary(masterChanged = false, transactionChanged = true,
      deleted = Map("trn_voucher" -> (dels.size + alts.size).toLong),
      appended = Map("trn_voucher" -> touched.size.toLong,
        "trn_accounting" -> legsIn, "trn_inventory" -> invIn),
      renumbered = true, rowsChanged = rowsChanged)
  }

  // ---- what the fake Tally serves ---------------------------------

  private def bool(b: Boolean) = if (b) "1" else "0"
  private def date(d: Option[LocalDate]) = d.fold(NullDate)(_.toString)
  /** Negative amounts alternate between `-x` and Tally's `(-)x`. */
  private def amount(v: BigDecimal, parens: Boolean): String = {
    val s = v.bigDecimal.toPlainString
    if (v.signum < 0 && parens) "(-)" + s.drop(1) else s
  }
  private def plain(v: BigDecimal): String = v.bigDecimal.toPlainString
  private def name(l: Option[Ledger]) = l.fold("")(_.name.xml)

  private def renderVoucher(v: Voucher): Unit = {
    if (v.rendered == null)
      v.rendered = Array(v.guid, v.alterId.toString, v.date.toString,
        v.vtype.name.xml, Txt.escape(v.number), date(v.refDate),
        name(v.party), v.party.fold("")(_.guid), v.narration.xml,
        bool(v.isInvoice), bool(v.isAccounting), bool(v.isInventory),
        bool(v.isOrder))
    if (v.legRows == null)
      v.legRows = v.legs.zipWithIndex.map { case (l, i) =>
        Array(v.guid, l.ledger.name.xml, l.ledger.guid,
          amount(l.amount, (v.ordinal + i) % 2 == 0),
          amount(l.forex, parens = false), Txt.escape(l.currency))
      }.toArray
    if (v.invRows == null)
      v.invRows = v.inventory.map { i =>
        Array(v.guid, i.item.name.xml,
          amount(i.qty, v.ordinal % 3 == 0),
          // a rate may carry Tally's unit suffix
          plain(i.rate) + (if (v.ordinal % 2 == 0) "/Nos" else ""),
          amount(i.amount, v.ordinal % 3 == 1), i.godown.xml, i.tracking.xml)
      }.toArray
  }

  /** Render every row that is not rendered yet — called after set-up
    * and after each batch, so requests only filter and concatenate. */
  def render(): Unit = vouchers.valuesIterator.foreach(renderVoucher)

  private def rows(alterId: Long, rs: Array[String]*): Served =
    Served(alterId, autoNumbered = false, rs.toArray)

  /** The records of one collection route, in Tally's attribute order
    * given by [[Company.Routes]]. Masters render per request: they
    * are a few hundred rows. */
  def served(route: String): Iterator[Served] = route match {
    case "Group" => groups.iterator.map(g => rows(g.alterId, Array(g.guid,
      g.alterId.toString, g.name.xml, g.parent.xml, g.primary.xml,
      bool(g.isRevenue), bool(g.deemedPositive), bool(g.affectsGrossProfit))))
    case "Ledger" => ledgers.valuesIterator.map(l => rows(l.alterId,
      Array(l.guid, l.alterId.toString, l.name.xml, l.parent.xml,
        amount(l.opening, parens = true), bool(l.isRevenue), l.gstn.xml)))
    case "Ledger.LedgerClosingValues" => ledgers.valuesIterator.map(l =>
      rows(l.alterId, l.closing.map { case (d, v) =>
        Array(l.guid, l.name.xml, d.toString, amount(v, parens = false))
      }: _*))
    case "VoucherType" => voucherTypes.iterator.map(t => rows(t.alterId,
      Array(t.guid, t.alterId.toString, t.name.xml, t.parent.xml,
        t.numbering, bool(t.affectsStock))))
    case "StockItem" => items.iterator.map(i => rows(i.alterId,
      Array(i.guid, i.alterId.toString, i.name.xml, i.parent.xml, i.uom.xml,
        amount(i.openQty, parens = false), amount(i.openValue, parens = true))))
    case "StockItem.BatchAllocations" => items.iterator.map(i =>
      rows(i.alterId, i.batches.map(b => Array(i.guid, i.name.xml,
        amount(b.qty, parens = false), amount(b.value, parens = false),
        b.godown.xml)): _*))
    case "Voucher" => vouchers.valuesIterator.map { v =>
      Served(v.alterId, v.vtype.automatic, Array(v.rendered)) }
    case "Voucher.AllLedgerEntries" => vouchers.valuesIterator.map { v =>
      Served(v.alterId, v.vtype.automatic, v.legRows) }
    case "Voucher.AllInventoryEntries" => vouchers.valuesIterator.map { v =>
      Served(v.alterId, v.vtype.automatic, v.invRows) }
    case _ => Iterator.empty
  }

  // ---- typed truth ------------------------------------------------

  private def d(x: LocalDate): java.sql.Date = java.sql.Date.valueOf(x)
  private def b2(v: BigDecimal) = v.setScale(2).bigDecimal
  private def b4(v: BigDecimal) = v.setScale(4).bigDecimal
  private def n4(v: Long) = BigDecimal(v).setScale(4).bigDecimal

  /** Every row of `table` as column → typed value (Spark's external
    * types: String, java.lang.Boolean, java.math.BigDecimal,
    * java.sql.Date), built from the company's state directly. */
  def truth(table: String): Iterator[Map[String, Any]] = table match {
    case "mst_group" => groups.iterator.map(g => Map(
      "guid" -> g.guid, "alterid" -> n4(g.alterId), "name" -> g.name.truth,
      "parent" -> g.parent.truth, "primary_group" -> g.primary.truth,
      "is_revenue" -> g.isRevenue, "is_deemedpositive" -> g.deemedPositive,
      "affects_gross_profit" -> g.affectsGrossProfit))
    case "mst_ledger" => ledgers.valuesIterator.map(l => Map(
      "guid" -> l.guid, "alterid" -> n4(l.alterId), "name" -> l.name.truth,
      "parent" -> l.parent.truth, "opening_balance" -> b2(l.opening),
      "is_revenue" -> l.isRevenue, "gstn" -> l.gstn.truth))
    case "trn_closingstock_ledger" => ledgers.valuesIterator.flatMap(l =>
      l.closing.map { case (dt, v) => Map("guid" -> l.guid,
        "ledger" -> l.name.truth, "stock_date" -> d(dt),
        "stock_value" -> b2(v)) })
    case "mst_vouchertype" => voucherTypes.iterator.map(t => Map(
      "guid" -> t.guid, "alterid" -> n4(t.alterId), "name" -> t.name.truth,
      "parent" -> t.parent.truth, "numbering_method" -> t.numbering,
      "affects_stock" -> t.affectsStock))
    case "mst_stock_item" => items.iterator.map(i => Map(
      "guid" -> i.guid, "alterid" -> n4(i.alterId), "name" -> i.name.truth,
      "parent" -> i.parent.truth, "uom" -> i.uom.truth,
      "opening_balance" -> b4(i.openQty), "opening_value" -> b2(i.openValue)))
    case "mst_opening_batch_allocation" => items.iterator.flatMap(i =>
      i.batches.map(b => Map("guid" -> i.guid, "item" -> i.name.truth,
        "opening_balance" -> b4(b.qty), "opening_value" -> b2(b.value),
        "godown" -> b.godown.truth)))
    case "trn_voucher" => vouchers.valuesIterator.map(v => Map(
      "guid" -> v.guid, "alterid" -> n4(v.alterId), "date" -> d(v.date),
      "voucher_type" -> v.vtype.name.truth, "voucher_number" -> v.number,
      "reference_date" -> v.refDate.map(d).orNull,
      "party_name" -> v.party.fold("")(_.name.truth),
      "_party_name" -> v.party.fold("")(_.guid),
      "narration" -> v.narration.truth, "is_invoice" -> v.isInvoice,
      "is_accounting_voucher" -> v.isAccounting,
      "is_inventory_voucher" -> v.isInventory,
      "is_order_voucher" -> v.isOrder))
    case "trn_accounting" => vouchers.valuesIterator.flatMap(v =>
      v.legs.map(l => Map("guid" -> v.guid, "ledger" -> l.ledger.name.truth,
        "_ledger" -> l.ledger.guid, "amount" -> b2(l.amount),
        "amount_forex" -> b2(l.forex), "currency" -> l.currency)))
    case "trn_inventory" => vouchers.valuesIterator.flatMap(v =>
      v.inventory.map(i => Map("guid" -> v.guid, "item" -> i.item.name.truth,
        "quantity" -> b4(i.qty), "rate" -> b4(i.rate),
        "amount" -> b2(i.amount), "godown" -> i.godown.truth,
        "tracking_number" -> i.tracking.truth)))
    case other => throw new IllegalArgumentException(s"no table $other")
  }
}

object Company {
  /** Ticks per cycle of batch kinds: a change, then none. */
  val TickCycle = 2

  /** Tally's empty-date output: character 241. */
  val NullDate = "ñ"

  /** Attribute order of each route's rendered rows. `Guid:C:$F` is
    * the server-side `$Guid:C:$F` lookup of a surrogate key. */
  val Routes: Map[String, IndexedSeq[String]] = Map(
    "Group" -> IndexedSeq("Guid", "AlterId", "Name", "Parent",
      "_PrimaryGroup", "IsRevenue", "IsDeemedPositive", "AffectsGrossProfit"),
    "Ledger" -> IndexedSeq("Guid", "AlterId", "Name", "Parent",
      "OpeningBalance", "IsRevenue", "PartyGSTIN"),
    "Ledger.LedgerClosingValues" -> IndexedSeq("Guid", "LedgerName", "Date",
      "Amount"),
    "VoucherType" -> IndexedSeq("Guid", "AlterId", "Name", "Parent",
      "NumberingMethod", "AffectsStock"),
    "StockItem" -> IndexedSeq("Guid", "AlterId", "Name", "Parent",
      "BaseUnits", "OpeningBalance", "OpeningValue"),
    "StockItem.BatchAllocations" -> IndexedSeq("Guid", "ItemName",
      "OpeningBalance", "OpeningValue", "GodownName"),
    "Voucher" -> IndexedSeq("Guid", "AlterId", "Date", "VoucherTypeName",
      "VoucherNumber", "ReferenceDate", "PartyLedgerName",
      "Guid:Ledger:PartyLedgerName", "Narration", "IsInvoice",
      "IsAccountingVoucher", "IsInventoryVoucher", "IsOrderVoucher"),
    "Voucher.AllLedgerEntries" -> IndexedSeq("Guid", "LedgerName",
      "Guid:Ledger:LedgerName", "Amount", "ForexAmount", "Currency"),
    "Voucher.AllInventoryEntries" -> IndexedSeq("Guid", "StockItemName",
      "ActualQty", "Rate", "Amount", "GodownName", "TrackingNumber"))

  /** The nine tables the reports read, in load order. */
  val Tables: Seq[String] = Seq("mst_group", "mst_ledger",
    "mst_vouchertype", "mst_stock_item", "mst_opening_batch_allocation",
    "trn_closingstock_ledger", "trn_voucher", "trn_accounting",
    "trn_inventory")
}
