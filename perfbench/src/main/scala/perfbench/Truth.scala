package perfbench

/** Independent ground truth: brute-force cosine top-k over vectors held
  * by the benchmark, in double precision, ties broken by pk. Nothing
  * here calls the library's search code. */
final class Truth(rows: Seq[(Long, Array[Float])]) {
  private val ids: Array[Long] = rows.map(_._1).toArray
  private val vecs: Array[Array[Double]] = rows.map(r => Truth.unit(r._2)).toArray
  private val slot: Map[Long, Int] = ids.zipWithIndex.toMap

  def contains(pk: Long): Boolean = slot.contains(pk)

  /** Cosine of corpus row `pk` against the (normalized) query. */
  def score(q: Array[Double], pk: Long): Double = Truth.dot(vecs(slot(pk)), q)

  /** Top-k (pk, score) by score descending, then pk ascending. */
  def topK(query: Array[Float], k: Int): Seq[(Long, Double)] = {
    val q = Truth.unit(query)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](x => (-x._1, x._2)))
    var i = 0
    while (i < ids.length) {
      val s = Truth.dot(vecs(i), q)
      if (heap.size < k) heap.enqueue((s, ids(i)))
      else {
        val (ws, wid) = heap.head
        if (s > ws || (s == ws && ids(i) < wid)) { heap.dequeue(); heap.enqueue((s, ids(i))) }
      }
      i += 1
    }
    heap.toSeq.sortBy(x => (-x._1, x._2)).map { case (s, id) => (id, s) }
  }

  /** Checks an exact top-k answer: `k` distinct ids in rank order, each
    * equal to the truth at its rank or, where scores tie within
    * [[Truth.Tol]], with the same score as the truth's id at that rank. */
  def exactMismatch(query: Array[Float], got: Seq[Long], want: Seq[(Long, Double)]): Option[String] = {
    val q = Truth.unit(query)
    if (got.size != want.size) Some(s"${got.size} results, want ${want.size}")
    else if (got.distinct.size != got.size) Some("duplicate ids")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, (w, ws)), r) if g != w &&
          (!contains(g) || math.abs(score(q, g) - ws) > Truth.Tol) =>
        s"rank ${r + 1}: got $g, want $w"
    }
  }

  /** Checks an approximate answer's integrity (distinct known ids, each
    * reported score equal to the independent cosine, scores
    * non-increasing) and returns how many of its ids are true top-k
    * members (near-ties at the k-th score count as members). */
  def annHits(query: Array[Float], got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Either[String, Int] = {
    val q = Truth.unit(query)
    val kth = want.last._2
    if (got.map(_._1).distinct.size != got.size) Left("duplicate ids")
    else got.find(g => !contains(g._1)).map(g => Left(s"unknown id ${g._1}"))
      .orElse(got.find(g => math.abs(score(q, g._1) - g._2) > Truth.ScoreTol)
        .map(g => Left(s"id ${g._1}: score ${g._2}, want ${score(q, g._1)}")))
      .orElse(got.sliding(2).collectFirst {
        case Seq(a, b) if b._2 > a._2 + Truth.Tol => Left(s"scores out of order at ${b._1}")
      })
      .getOrElse(Right(got.count(g => score(q, g._1) >= kth - Truth.Tol)))
  }
}

object Truth {
  /** Two candidates whose independent cosines differ by less than this
    * are a float near-tie: either order is correct. */
  val Tol = 1e-5
  /** A reported score may differ from the independent double-precision
    * cosine by float rounding of the stored vectors. */
  val ScoreTol = 1e-4

  def unit(v: Array[Float]): Array[Double] = {
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    if (n == 0.0) v.map(_ => 0.0) else v.map(_ / n)
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
