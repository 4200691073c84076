package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** The graft native-function inventory, registrable two ways: injected at
  * session build via [[GraftExtensions]] (`spark.sql.extensions`), or
  * imperatively into a live session via [[ensureRegistered]] — so queries
  * keep working even on a session built without graft's configuration.
  */
object GraftFunctions {

  private def intLit(e: Expression, fn: String, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(s"$fn: $name must be an integer literal")
  }

  private def boolLit(e: Expression, fn: String, name: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case _ => throw new IllegalArgumentException(s"$fn: $name must be a boolean literal")
  }

  /** name → (implementing class, arity, builder). */
  val all: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity], 2,
      (c: Seq[Expression]) => CosineSimilarity(c(0), c(1))),
    ("dot_product", classOf[DotProduct], 2,
      (c: Seq[Expression]) => DotProduct(c(0), c(1))),
    ("centered_int_dot", classOf[CenteredIntDot], 2,
      (c: Seq[Expression]) => CenteredIntDot(c(0), c(1))),
    ("hilbert_d", classOf[HilbertIndex], 2,
      (c: Seq[Expression]) => HilbertIndex(c(0), c(1))),
    ("simhash64", classOf[SimHash64], 1,
      (c: Seq[Expression]) => SimHash64(c(0))),
    ("simhash_md5_60", classOf[Md5SimHash60], 1,
      (c: Seq[Expression]) => Md5SimHash60(c(0))),
    ("minhash_bands", classOf[MinHashBands], 3,
      (c: Seq[Expression]) => MinHashBands(c(0),
        intLit(c(1), "minhash_bands", "numHashes"),
        intLit(c(2), "minhash_bands", "bandSize"))),
    ("minhash_bands_md5", classOf[Md5MinHashBands], 3,
      (c: Seq[Expression]) => Md5MinHashBands(c(0),
        intLit(c(1), "minhash_bands_md5", "numHashes"),
        intLit(c(2), "minhash_bands_md5", "bandSize"))),
    ("word_shingles", classOf[WordShingles], 2,
      (c: Seq[Expression]) => WordShingles(c(0),
        intLit(c(1), "word_shingles", "n"))),
    ("md5_prefix32", classOf[Md5Prefix32], 1,
      (c: Seq[Expression]) => Md5Prefix32(c(0))),
    ("rolling_fp", classOf[RollingFp], 1,
      (c: Seq[Expression]) => RollingFp(c(0))),
    ("lsh_sig", classOf[LshSignature], 1,
      (c: Seq[Expression]) => LshSignature(c(0))),
    ("lsh_sig_md5", classOf[Md5LshSignature], 1,
      (c: Seq[Expression]) => Md5LshSignature(c(0))),
    ("keyword_overlap", classOf[KeywordOverlap], 2,
      (c: Seq[Expression]) => KeywordOverlap(c(0), c(1))),
    ("intersect_count", classOf[IntersectCount], 2,
      (c: Seq[Expression]) => IntersectCount(c(0), c(1))),
    ("intersect_count_sorted", classOf[SortedIntersectCount], 2,
      (c: Seq[Expression]) => SortedIntersectCount(c(0), c(1))),
    ("token_hashes", classOf[SortedTokenHashes], 1,
      (c: Seq[Expression]) => SortedTokenHashes(c(0))),
    ("bpe_merge_pair", classOf[BpeMergePair], 3,
      (c: Seq[Expression]) => BpeMergePair(c(0), c(1), c(2))),
    ("nearest_centroid", classOf[NearestCentroid], 2,
      (c: Seq[Expression]) => NearestCentroid(c(0), c(1))),
    ("quantized_cosine", classOf[QuantizedCosine], 3,
      (c: Seq[Expression]) => QuantizedCosine(c(0), c(1), c(2))),
    ("int8_pack", classOf[Int8Pack], 1,
      (c: Seq[Expression]) => Int8Pack(c(0))),
    ("int8_quantize", classOf[Int8Quantize], 2,
      (c: Seq[Expression]) => Int8Quantize(c(0), c(1))),
    ("pq_encode", classOf[PqEncode], 2,
      (c: Seq[Expression]) => PqEncode(c(0), c(1))),
    ("pq_adc_score", classOf[PqAdcScore], 2,
      (c: Seq[Expression]) => PqAdcScore(c(0), c(1))),
    ("md5_buckets", classOf[Md5Buckets], 2,
      (c: Seq[Expression]) => Md5Buckets(c(0),
        intLit(c(1), "md5_buckets", "buckets"))),
    ("reg_min", classOf[RegMinAgg], 2,
      (c: Seq[Expression]) => RegMinAgg(c(0),
        intLit(c(1), "reg_min", "m"))),
    ("weight_lookup_sum", classOf[WeightLookupSum], 2,
      (c: Seq[Expression]) => WeightLookupSum(c(0), c(1))),
    ("wordpiece_encode", classOf[WordPieceEncode], 2,
      (c: Seq[Expression]) => WordPieceEncode(c(0), c(1))),
    ("unigram_encode", classOf[UnigramEncode], 2,
      (c: Seq[Expression]) => UnigramEncode(c(0), c(1))),
    ("unigram_expected", classOf[UnigramExpected], 2,
      (c: Seq[Expression]) => UnigramExpected(c(0), c(1))),
    ("ac_count_all", classOf[AcCountAll], 2,
      (c: Seq[Expression]) => AcCountAll(c(0), c(1))),
    ("ac_distinct_hits", classOf[AcDistinctHits], 2,
      (c: Seq[Expression]) => AcDistinctHits(c(0), c(1))),
    ("ac_first_pos", classOf[AcFirstPos], 2,
      (c: Seq[Expression]) => AcFirstPos(c(0), c(1))),
    ("minhash_sig_md5", classOf[Md5MinHashSig], 2,
      (c: Seq[Expression]) => Md5MinHashSig(c(0),
        intLit(c(1), "minhash_sig_md5", "numHashes"))),
    ("nfc_normalize", classOf[NfcNormalize], 1,
      (c: Seq[Expression]) => NfcNormalize(c(0))),
    ("strip_accents", classOf[StripAccents], 1,
      (c: Seq[Expression]) => StripAccents(c(0))),
    (TripEventDecode.name, classOf[TripEventDecode], 2,
      (c: Seq[Expression]) => TripEventDecode(c(0),
        boolLit(c(1), TripEventDecode.name, "strict"))))

  /** Idempotently register every graft function into a live session (no-op
    * when GraftExtensions already injected them). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, clazz, arity, builder) =>
      val id = new FunctionIdentifier(name)
      if (!registry.functionExists(id)) {
        registry.registerFunction(id, new ExpressionInfo(clazz.getName, name),
          (children: Seq[Expression]) => {
            require(children.length == arity, s"$name expects $arity arguments")
            builder(children)
          })
      }
    }
  }
}
