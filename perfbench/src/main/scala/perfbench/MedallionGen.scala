package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of the medallion_cdc inputs: a customer change feed
  * (keyed by `id`, sequenced by `seq`, deletes marked `op = 'D'`) and an
  * append-only order feed. `base()` is the initial snapshot; each `next()`
  * is one change batch of fixed size holding inserts, updates,
  * out-of-order updates (a sequence value between two versions the key
  * already has), deletes, and the rows made to break the expectations:
  * a null `segment` (the drop rule), a null `tier` (the warn rule) and a
  * negative order amount (quarantined). No row breaks a fail rule.
  *
  * Every customer event carries a name unique to it, so no two versions
  * of a key are ever equal and SCD2 history keeps every applied event. */
final class MedallionGen(seed: Long) {
  import MedallionGen._

  private val rng = new Random(seed)
  private var nextSeq = 0L
  private var nextId = 0L
  private var nextOrder = 0L
  /** data-version sequence values per key, and the keys still alive */
  private val versions = mutable.Map[Long, mutable.TreeSet[Long]]()
  private val used = mutable.Map[Long, mutable.Set[Long]]()
  private val alive = mutable.LinkedHashSet[Long]()

  private def seqNow(): Long = { nextSeq += 16; nextSeq }
  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
  private def tier(): Option[String] =
    if (rng.nextInt(20) == 0) None else Some(pick(Tiers))

  private def upsert(id: Long, seq: Long, segment: Option[String]): Cust = {
    val c = Cust(id, s"c${id}_$seq", segment, tier(), seq, "U")
    if (segment.isDefined) {
      versions.getOrElseUpdate(id, mutable.TreeSet[Long]()) += seq
      used.getOrElseUpdate(id, mutable.Set[Long]()) += seq
    }
    c
  }

  private def insert(): Cust = {
    nextId += 1
    alive += nextId
    upsert(nextId, seqNow(), Some(pick(Segments)))
  }

  private def orders(n: Int, bad: Int): Seq[Order] = {
    val ids = versions.keys.toIndexedSeq.sorted
    (0 until n + bad).map { k =>
      nextOrder += 1
      val amount = if (k < bad) -1L - rng.nextInt(1000) else 1L + rng.nextInt(100000)
      Order(nextOrder, pick(ids), amount, 1L + (rng.nextDouble() * nextSeq).toLong)
    }
  }

  def base(): Batch = {
    val cs = (0 until BaseCustomers).map(_ => insert())
    // drop-rule breakers: existing keys whose change has no segment
    val bad = (0 until BaseBad).map(_ => upsert(pick(cs).id, seqNow(), None))
    Batch(rng.shuffle(cs ++ bad), orders(BaseOrders, BaseBadOrders))
  }

  def next(): Batch = {
    val keys = rng.shuffle(alive.toIndexedSeq)
    val (upd, rest) = keys.splitAt(Updates)
    val del = rest.take(Deletes)
    val out = mutable.ArrayBuffer[Cust]()
    out ++= (0 until Inserts).map(_ => insert())
    out ++= upd.map(id => upsert(id, seqNow(), Some(pick(Segments))))
    out ++= del.map { id =>
      val seq = seqNow()
      alive -= id
      used(id) += seq
      Cust(id, s"c${id}_deleted", Some("DELETED"), None, seq, "D")
    }
    out ++= rest.drop(Deletes).take(Bad).map(id => upsert(id, seqNow(), None))
    // out-of-order: a sequence value strictly between two of a key's versions
    val late = rng.shuffle(versions.keys.toIndexedSeq.sorted).iterator.flatMap { id =>
      val vs = versions(id).toIndexedSeq
      val gaps = vs.zip(vs.tail).filter { case (a, b) =>
        (a + 1 until b).exists(s => !used(id).contains(s)) }
      Option.when(gaps.nonEmpty) {
        val (a, b) = pick(gaps)
        val free = (a + 1 until b).filterNot(used(id).contains)
        upsert(id, pick(free), Some(pick(Segments)))
      }
    }.take(Late).toSeq
    require(late.size == Late, "not enough keys with room for a late update")
    out ++= late
    Batch(rng.shuffle(out.toSeq), orders(Orders, BadOrders))
  }
}

object MedallionGen {
  val BaseCustomers = 2000
  val BaseBad = 20
  val BaseOrders = 4000
  val BaseBadOrders = 40
  // per change batch
  val Inserts = 40
  val Updates = 80
  val Deletes = 10
  val Late = 20
  val Bad = 4
  val Orders = 200
  val BadOrders = 4

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Tiers = Seq("gold", "silver", "bronze")

  final case class Cust(id: Long, name: String, segment: Option[String],
      tier: Option[String], seq: Long, op: String) {
    def json: String =
      s"""{"id":$id,"name":${Json.str(name)},"segment":${opt(segment)},""" +
        s""""tier":${opt(tier)},"seq":$seq,"op":"$op"}"""
  }
  final case class Order(orderId: Long, customerId: Long, amount: Long, atSeq: Long) {
    def json: String =
      s"""{"order_id":$orderId,"customer_id":$customerId,"amount":$amount,"at_seq":$atSeq}"""
  }
  final case class Batch(customers: Seq[Cust], orders: Seq[Order]) {
    def dropped: Int = customers.count(_.segment.isEmpty)
    def quarantined: Int = orders.count(_.amount < 0)
  }
  private def opt(s: Option[String]): String = s.map(Json.str).getOrElse("null")

  /** One SCD2 history row: `end` None = the current version. */
  final case class DimRow(id: Long, name: String, segment: String,
      tier: Option[String], seq: Long, start: Long, end: Option[Long])

  /** The SCD2 table the events so far must produce, folded in plain Scala:
    * rows breaking the drop rule never arrive; per key, events apply in
    * sequence order, each version ends where the key's next event
    * (version or delete) starts, and a delete leaves no row. */
  def fold(events: Seq[Cust]): Seq[DimRow] =
    events.filter(_.segment.isDefined).groupBy(_.id).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(_.seq)
      sorted.zipAll(sorted.tail.map(e => Option(e.seq)), null, None).collect {
        case (e, end) if e.op != "D" =>
          DimRow(e.id, e.name, e.segment.get, e.tier, e.seq, e.seq, end)
      }
    }

  /** (group, revenue, orders) of the two gold views, from the fold. */
  def gold(dim: Seq[DimRow], orders: Seq[Order])
      : (Set[(Option[String], Long, Long)], Set[(Option[String], Long, Long)]) = {
    val good = orders.filter(_.amount >= 0)
    val current = dim.filter(_.end.isEmpty).map(r => r.id -> r).toMap
    val byId = dim.groupBy(_.id)
    def agg(rows: Seq[(Option[String], Long)]) = rows.groupBy(_._1).map {
      case (g, xs) => (g, xs.map(_._2).sum, xs.size.toLong) }.toSet
    val segment = agg(good.flatMap(o =>
      current.get(o.customerId).map(r => Option(r.segment) -> o.amount)))
    val tierAsOf = agg(good.flatMap(o => byId.getOrElse(o.customerId, Nil)
      .find(r => o.atSeq >= r.start && r.end.forall(o.atSeq < _))
      .map(r => r.tier -> o.amount)))
    (segment, tierAsOf)
  }
}
