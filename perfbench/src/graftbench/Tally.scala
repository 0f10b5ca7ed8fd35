package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.SumRecord

/** Counts attempted and failed operations and keeps latency samples by
  * name. A wrong answer is a failure like an error is.
  */
final class Tally {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()
  private val samples = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v; ()
  }

  def of(name: String): Seq[Double] = synchronized(samples.get(name).map(_.toSeq).getOrElse(Nil))

  /** Counts one attempted operation; `problem` is None when it was right. */
  def outcome(what: String, problem: Option[String]): Boolean = {
    attempted.incrementAndGet()
    problem.foreach { p =>
      failed.incrementAndGet()
      if (failures.size < 20) failures.add(s"$what: $p")
    }
    problem.isEmpty
  }

  def failureList: Seq[String] = failures.asScala.toSeq
}

/** Answer checks shared by the workloads. */
object Check {
  val Eps = 1e-9

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Parses a `{"id": similarity, ...}` oracle result. */
  def simMap(json: String): Either[String, Map[Long, Double]] =
    try {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(json) match {
        case JObject(fields) => Right(fields.map {
          case (k, JDouble(d))  => k.toLong -> d
          case (k, JInt(i))     => k.toLong -> i.toDouble
          case (k, JLong(l))    => k.toLong -> l.toDouble
          case (k, JDecimal(d)) => k.toLong -> d.toDouble
          case (k, v)           => throw new IllegalArgumentException(s"$k -> $v")
        }.toMap)
        case other => Left(s"not an object: ${other.getClass.getSimpleName}")
      }
    } catch { case e: Exception => Left(s"unparsable result: ${e.getMessage}") }

  /** Compares a similarity map with the exact answer over the records whose
    * content is known for the whole call (`stable`), and checks every other
    * returned id against `otherVersions` (any content that id ever had).
    * Ids within Eps of the threshold may be present or absent.
    */
  def similar(got: Map[Long, Double], ref: Array[Float], refId: Long,
      threshold: Double, stable: Iterator[(Long, Array[Float])],
      otherVersions: Long => Seq[Array[Float]]): Option[String] = {
    if (got.contains(refId)) return Some(s"result contains the probe id $refId")
    val seen = mutable.HashSet.empty[Long]
    for ((id, v) <- stable if id != refId) {
      seen += id
      val c = cosine(ref, v)
      got.get(id) match {
        case Some(s) if math.abs(s - c) > Eps => return Some(s"id $id: $s, expected $c")
        case Some(_) if c < threshold - Eps   => return Some(s"id $id below threshold ($c)")
        case None if c >= threshold + Eps      => return Some(s"id $id missing ($c)")
        case _ =>
      }
    }
    for ((id, s) <- got if !seen.contains(id)) {
      val fits = otherVersions(id).exists { v =>
        val c = cosine(ref, v); math.abs(s - c) <= Eps && c >= threshold - Eps
      }
      if (!fits) return Some(s"id $id: $s matches no content that id ever had")
    }
    None
  }

  def sameRecord(got: SumRecord, want: SumRecord): Option[String] =
    if (got.id != want.id) Some(s"id ${got.id}, expected ${want.id}")
    else if (!java.util.Arrays.equals(got.data, want.data)) Some(s"record ${want.id}: data differs")
    else if (got.meta != want.meta) Some(s"record ${want.id}: meta ${got.meta}, expected ${want.meta}")
    else if (got.shape.toSeq != Seq(want.data.length.toLong))
      Some(s"record ${want.id}: shape ${got.shape.toSeq}")
    else None

  /** Checks one `ListRecords` page against a client's model: `mine` holds
    * every id the client ever owned, `live` the content of those it still
    * holds. The client's live records between the page's first and last id
    * must all be on it, unchanged, and none of its deleted ones.
    */
  def page(got: Seq[SumRecord], perPage: Int, mine: Long => Boolean,
      live: collection.SortedMap[Long, SumRecord]): Option[String] = {
    val ids = got.map(_.id)
    if (got.size > perPage) Some(s"page of ${got.size}")
    else if (ids != ids.distinct.sorted) Some(s"page not in id order: $ids")
    else {
      val own = got.filter(x => mine(x.id))
      val expected = if (ids.isEmpty) Nil else live.range(ids.head, ids.last + 1).keys.toSeq
      own.flatMap(x => live.get(x.id).fold[Option[String]](
        Some(s"page holds deleted record ${x.id}"))(sameRecord(x, _))).headOption
        .orElse(if (own.map(_.id) != expected) Some(s"page ids ${own.map(_.id)}, own expected $expected")
          else None)
    }
  }

  /** Checks a `FindRecords` answer for a bucket only one client writes. */
  def bucket(b: String, got: Seq[SumRecord], want: Seq[SumRecord]): Option[String] = {
    val sorted = got.sortBy(_.id)
    if (sorted.map(_.id) != want.map(_.id))
      Some(s"bucket $b: ids ${sorted.map(_.id)}, expected ${want.map(_.id)}")
    else sorted.zip(want).flatMap { case (g, w) => sameRecord(g, w) }.headOption
  }

  def recordCount(got: Long, expected: Long): Option[String] =
    if (got == expected) None else Some(s"Info.records $got, expected $expected")
}
