package perfbench

import scala.util.Random

/** The seeded request log a run replays. Everything here is derived from
  * the seed and the base corpus; the program under test only ever sees
  * the generated request values, never the generator.
  *
  * Read anchors are Zipf-skewed over the base ids (a seeded permutation
  * decides which ids are hot), so a few students take most reads. New
  * students draw `college`/`board`/`stream`/`address` from the corpus's
  * own value frequencies and get generated names. Search strings are
  * one-edit perturbations of real names, so each probe has candidates. */
object RequestLog {

  /** A base student a read is aimed at. */
  final case class Target(id: Long, name: String) {
    def text = s"base:$id"
  }

  final case class NewStudent(name: String, college: String, board: String,
      stream: String, address: String)

  sealed trait Request { def kind: String; def text: String }
  final case class Onboard(student: NewStudent) extends Request {
    def kind = "onboard"
    def text = s"onboard|${student.productIterator.mkString("|")}"
  }
  /** Redelivery of the previous onboard, carrying the id it was given. */
  case object Redeliver extends Request {
    def kind = "redeliver"
    def text = "redeliver"
  }
  final case class Recommend(target: Target) extends Request {
    def kind = "recommend"
    def text = s"recommend|${target.text}"
  }
  final case class PprRecommend(target: Target) extends Request {
    def kind = "ppr_recommend"
    def text = s"ppr_recommend|${target.text}"
  }
  final case class Search(query: String) extends Request {
    def kind = "search"
    def text = s"search|$query"
  }
  final case class LookupById(target: Target) extends Request {
    def kind = "lookup"
    def text = s"lookup_id|${target.text}"
  }
  final case class LookupByName(target: Target) extends Request {
    def kind = "lookup"
    def text = s"lookup_name|${target.text}|${target.name}"
  }

  val Workloads = Seq("recommend_read", "onboard_write")

  val ZipfExponent = 1.1
  val RedeliverShare = 0.05
  /** Two onboards per onboard_write block, so one slow onboard moves a
    * run's figures by half as much. */
  val OnboardsPerBlock = 2

  final case class CorpusRow(id: Long, name: String, college: String,
      board: String, stream: String, address: String)

  /** The log as blocks of requests. Every block of a workload has the
    * same composition (only the order inside it is seeded), and a run
    * replays whole blocks, so every run serves the same share of each
    * request type and a metric moves with the program, not with the mix
    * a seed happened to draw. */
  def generate(workload: String, seed: Long, corpus: IndexedSeq[CorpusRow],
      blocks: Int): IndexedSeq[IndexedSeq[Request]] = {
    val rnd = new Random(seed)
    val base = corpus.sortBy(_.id)
    val hot = rnd.shuffle(base.indices.toVector)
    val cdf = {
      val w = (1 to base.size).map(r => 1.0 / math.pow(r, ZipfExponent))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def target(): Target = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val rank = math.min(if (i >= 0) i else -i - 1, base.size - 1)
      val row = base(hot(rank))
      Target(row.id, row.name)
    }
    def sampler(values: IndexedSeq[String]): () => String = {
      val pool = values.sorted
      () => pool(rnd.nextInt(pool.size))
    }
    val college = sampler(base.map(_.college))
    val board = sampler(base.map(_.board))
    val stream = sampler(base.map(_.stream))
    val address = sampler(base.map(_.address))
    val taken = scala.collection.mutable.HashSet.empty[String] ++ base.map(_.name)
    val syllables = Vector("ka", "ri", "mo", "ta", "ne", "lu", "sa", "vi",
      "do", "pe", "ra", "ni", "zo", "be", "la", "gu", "me", "so", "fi", "ha")
    def word(): String =
      (1 to 2 + rnd.nextInt(2)).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    def newName(): String = {
      var n = s"${word()} ${word()}"
      while (taken(n)) n = s"${word()} ${word()}"
      taken += n
      n
    }
    def newStudent(): NewStudent =
      NewStudent(newName(), college(), board(), stream(), address())
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789#"
    def perturb(name: String): String = {
      val p = rnd.nextInt(name.length)
      val c = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(3) match {
        case 0 => name.patch(p, c.toString, 1)
        case 1 => name.patch(p, c.toString, 0)
        case _ if name.length > 3 => name.patch(p, "", 1)
        case _ => name + c
      }
    }

    def read(kind: String): Request = kind match {
      case "ppr_recommend" => PprRecommend(target())
      case "recommend" => Recommend(target())
      case "search" => Search(perturb(target().name))
      case _ => if (rnd.nextBoolean()) LookupById(target()) else LookupByName(target())
    }
    val reads = Vector("ppr_recommend", "recommend", "search", "lookup")

    Vector.fill(blocks)(workload match {
      case "recommend_read" => rnd.shuffle(reads).map(read)
      case "onboard_write" => Vector.fill(OnboardsPerBlock)(
        Onboard(newStudent()) +:
          (if (rnd.nextDouble() < RedeliverShare) Vector(Redeliver) else Vector())
      ).flatten
    })
  }

  def sha256(log: Seq[Seq[Request]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    log.foreach(b => md.update((b.map(_.text).mkString("\t") + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
