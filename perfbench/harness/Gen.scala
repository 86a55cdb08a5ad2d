package perfbench

import java.io.ByteArrayOutputStream
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded input generators. The program only ever sees what these emit;
  * the same seed gives the same inputs. */
object Gen {

  // ---- log records: the reference wire format (graft.fixtures.LogGen) ----

  /** Share of records whose EndTime lies `LateMs` in the past (the README
    * scenario: 25% late at 600 s, far beyond the 5 s lateness, so the
    * late/on-time split never depends on micro-batch boundaries). */
  val LateShare = 0.25
  val LateMs = 600000L
  /** Share of malformed records: the latency value is not a number, so the
    * point fails validation and lands in the dead letter. */
  val BadShare = 0.01
  val AccountBase = 100000000000L

  private val Operations =
    Array("GetTable", "CreateTable", "CreateNameSpace", "GetDatabase", "CreateDatabase")
  private val CallerServices = Array("GLUE", "S3")
  private val Latencies =
    Array("178.715432", "123.152632", "562.789562", "125.785214", "252.123568")

  /** One generated record. `key` is carried as AwsAccountId, so every
    * record can be found again in whichever sink it lands. */
  final case class LogRec(key: Long, late: Boolean, bad: Boolean, payload: Array[Byte])

  /** `n` gzipped records whose event times start at `baseMs` and advance
    * `stepMs` per record (late ones are shifted back by `LateMs`). */
  def logRecords(rng: SplittableRandom, firstKey: Long, n: Int, baseMs: Long,
      stepMs: Double): Array[LogRec] =
    Array.tabulate(n) { i =>
      val late = rng.nextDouble() < LateShare
      val bad = rng.nextDouble() < BadShare
      val t = baseMs + (i * stepMs).toLong - (if (late) LateMs else 0L)
      val key = firstKey + i
      val text = graft.fixtures.LogGen.record(
        operation = Operations(rng.nextInt(Operations.length)),
        awsAccountId = AccountBase + key,
        callerService = CallerServices(rng.nextInt(CallerServices.length)),
        latencyText = if (bad) "n/a" else Latencies(rng.nextInt(Latencies.length)),
        endTimeMs = t)
      LogRec(key, late, bad, gzip(text))
    }

  def gzip(s: String): Array[Byte] = {
    val bo = new ByteArrayOutputStream(256)
    val gz = new GZIPOutputStream(bo)
    gz.write(s.getBytes("UTF-8"))
    gz.close()
    bo.toByteArray
  }

  // ---- corpus: fit to sf0.1 `documents` ----

  /** sf0.1's vocabulary with its token counts (near-uniform over 30 words;
    * "dup" only appears as the near-duplicate marker). */
  private val Vocab: Array[(String, Int)] = Array(
    "spark" -> 9182, "window" -> 9159, "merge" -> 9157, "table" -> 9144,
    "column" -> 9127, "vector" -> 9119, "stream" -> 9117, "value" -> 9112,
    "data" -> 9104, "small" -> 9100, "join" -> 9080, "filter" -> 9063,
    "big" -> 9057, "group" -> 9040, "hash" -> 9024, "customer" -> 9017,
    "sort" -> 9005, "order" -> 8971, "slow" -> 8960, "line" -> 8951,
    "part" -> 8929, "fast" -> 8926, "row" -> 8925, "the" -> 8925,
    "agg" -> 8912, "key" -> 8893, "query" -> 8881, "a" -> 8877,
    "scan" -> 8863, "batch" -> 8829)
  private val VocabCum = Vocab.map(_._2.toLong).scanLeft(0L)(_ + _).tail
  /** sf0.1 language mix (docs per 5,000). */
  private val Langs = Array("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)
  private val LangCum = Langs.map(_._2.toLong).scanLeft(0L)(_ + _).tail
  val Sources = 20
  /** sf0.1 duplicate rates per 5,000 documents: 8 exact copies of an
    * earlier document, 250 near-duplicates (an earlier text plus " dup"). */
  val ExactPer5k = 8
  val NearPer5k = 250

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  private def pick(cum: Array[Long], rng: SplittableRandom): Int = {
    val r = rng.nextLong(cum.last)
    val i = java.util.Arrays.binarySearch(cum, r + 1)
    if (i >= 0) i else -i - 1
  }

  /** `n` documents: word counts uniform in [10, 100] (sf0.1's range), words
    * drawn by sf0.1 frequency, lang by sf0.1 mix, source uniform over 20;
    * sf0.1's exact and near-duplicate rates are planted over earlier docs. */
  def corpus(rng: SplittableRandom, n: Int): Array[Doc] = {
    val texts = Array.fill(n) {
      val len = 10 + rng.nextInt(91)
      Array.fill(len)(Vocab(pick(VocabCum, rng))._1).mkString(" ")
    }
    val nExact = n * ExactPer5k / 5000
    val nNear = n * NearPer5k / 5000
    // targets are drawn from the second half, sources from the first, so
    // a copy never becomes the source of another planted copy
    val targets = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
      .shuffle((n / 2 until n).toVector).take(nExact + nNear)
    targets.zipWithIndex.foreach { case (t, j) =>
      val src = texts(rng.nextInt(n / 2))
      texts(t) = if (j < nExact) src else src + " dup"
    }
    Array.tabulate(n) { i =>
      Doc(i.toLong, texts(i), Langs(pick(LangCum, rng))._1, s"src${rng.nextInt(Sources)}")
    }
  }
}
