package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ApplyLambda, ArrayAggregate, Cast, CreateMap, CreateStruct, Exp, Expression, ExpressionInfo, Flatten, LambdaFunction, Literal, Log, MapEntries, MapFromEntries, TryEval, UnresolvedNamedLambdaVariable, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, BitXorAgg, CollectList, HistogramNumeric}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Registration of graft's custom Catalyst expressions, mirroring the
  * reference's plugin function SPI (presto-spi Plugin.getFunctions →
  * FunctionRegistry.addFunctions, SURVEY.md §2.11).
  *
  * Two entry points:
  *  - [[GraftFunctions.register]]: direct FunctionRegistry injection on
  *    an existing session (used by GraftSession).
  *  - [[GraftExtensions]]: `spark.sql.extensions`-style injection for
  *    sessions built elsewhere.
  */
object GraftFunctions {
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("max_n",
      new ExpressionInfo(classOf[BoundedTopNAgg].getName, "max_n"),
      (args: Seq[Expression]) =>
        BoundedTopNAgg(args(0), args(1), wantLargest = true).toAggregateExpression()),
    ("min_n",
      new ExpressionInfo(classOf[BoundedTopNAgg].getName, "min_n"),
      (args: Seq[Expression]) =>
        BoundedTopNAgg(args(0), args(1), wantLargest = false).toAggregateExpression()),
    ("max_by_n",
      new ExpressionInfo(classOf[KeyedTopNAgg].getName, "max_by_n"),
      (args: Seq[Expression]) =>
        KeyedTopNAgg(args(0), args(1), args(2), wantLargest = true)
          .toAggregateExpression()),
    ("min_by_n",
      new ExpressionInfo(classOf[KeyedTopNAgg].getName, "min_by_n"),
      (args: Seq[Expression]) =>
        KeyedTopNAgg(args(0), args(1), args(2), wantLargest = false)
          .toAggregateExpression()),
    ("vec_dot",
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))),
    ("vec_norm",
      new ExpressionInfo(classOf[VecNorm].getName, "vec_norm"),
      (args: Seq[Expression]) => VecNorm(args(0))),
    ("hyperplane_sigs",
      new ExpressionInfo(classOf[HyperplaneSigs].getName, "hyperplane_sigs"),
      (args: Seq[Expression]) => HyperplaneSigs(args(0))),
    ("minhash_sigs",
      new ExpressionInfo(classOf[CwMinhashSigs].getName, "minhash_sigs"),
      (args: Seq[Expression]) => CwMinhashSigs(args(0))),
    ("xx_minhash_sigs",
      new ExpressionInfo(classOf[XxMinhashSigs].getName, "xx_minhash_sigs"),
      (args: Seq[Expression]) => XxMinhashSigs(args(0))),
    ("arr_eq_count",
      new ExpressionInfo(classOf[ArrEqCount].getName, "arr_eq_count"),
      (args: Seq[Expression]) => ArrEqCount(args(0), args(1))),
    ("vec_sqdist",
      new ExpressionInfo(classOf[VecSqDist].getName, "vec_sqdist"),
      (args: Seq[Expression]) => VecSqDist(args(0), args(1))),
    ("st_buffer",
      new ExpressionInfo(classOf[StBuffer].getName, "st_buffer"),
      (args: Seq[Expression]) => StBuffer(args(0), Cast(args(1), DoubleType))),
    ("st_convex_hull",
      new ExpressionInfo(classOf[StConvexHull].getName, "st_convex_hull"),
      (args: Seq[Expression]) => StConvexHull(args(0))),
    ("st_union",
      new ExpressionInfo(classOf[StUnion].getName, "st_union"),
      (args: Seq[Expression]) => StUnion(args(0), args(1))),
    ("st_intersection",
      new ExpressionInfo(classOf[StIntersection].getName, "st_intersection"),
      (args: Seq[Expression]) => StIntersection(args(0), args(1))),
    ("geom_area",
      new ExpressionInfo(classOf[GeomArea].getName, "geom_area"),
      (args: Seq[Expression]) => GeomArea(args(0))),
    ("geometry_union_agg",
      new ExpressionInfo(classOf[GeometryUnionAgg].getName, "geometry_union_agg"),
      (args: Seq[Expression]) => GeometryUnionAgg(args(0)).toAggregateExpression()),
    ("convex_hull_agg",
      new ExpressionInfo(classOf[ConvexHullAgg].getName, "convex_hull_agg"),
      (args: Seq[Expression]) => ConvexHullAgg(args(0)).toAggregateExpression()),
    ("spatial_partitioning",
      new ExpressionInfo(classOf[SpatialPartitioningAgg].getName, "spatial_partitioning"),
      (args: Seq[Expression]) =>
        SpatialPartitioningAgg(args(0), args(1)).toAggregateExpression()),
    ("spatial_partitions",
      new ExpressionInfo(classOf[SpatialPartitions].getName, "spatial_partitions"),
      (args: Seq[Expression]) =>
        if (args.length == 3)
          SpatialPartitionsWithin(args(0), args(1), Cast(args(2), DoubleType))
        else SpatialPartitions(args(0), args(1))),
    ("histogram",
      new ExpressionInfo(classOf[HistogramAgg].getName, "histogram"),
      (args: Seq[Expression]) => HistogramAgg(args(0)).toAggregateExpression()),
    ("multimap_agg",
      new ExpressionInfo(classOf[MultimapAgg].getName, "multimap_agg"),
      (args: Seq[Expression]) => MultimapAgg(args(0), args(1)).toAggregateExpression()),
    // numeric_histogram(buckets, v) — Spark's histogram_numeric IS the
    // same Ben-Haim/Tom-Tov streaming histogram the reference uses
    // (NumericHistogram.java); re-shaped to Presto's map<double,double>
    ("numeric_histogram",
      new ExpressionInfo(classOf[HistogramNumeric].getName, "numeric_histogram"),
      (args: Seq[Expression]) => MapFromEntries(
        HistogramNumeric(Cast(args(1), DoubleType), Cast(args(0), IntegerType), 0, 0)
          .toAggregateExpression())),
    ("merge",
      new ExpressionInfo(classOf[MergeSketchAgg].getName, "merge"),
      (args: Seq[Expression]) => MergeSketchAgg(args(0)).toAggregateExpression()),
    ("make_set_digest",
      new ExpressionInfo(classOf[SetDigestAgg].getName, "make_set_digest"),
      (args: Seq[Expression]) => SetDigestAgg(args(0)).toAggregateExpression()),
    ("merge_set_digest",
      new ExpressionInfo(classOf[SetDigestMergeAgg].getName, "merge_set_digest"),
      (args: Seq[Expression]) => SetDigestMergeAgg(args(0)).toAggregateExpression()),
    ("set_digest_cardinality",
      new ExpressionInfo(classOf[SetDigestCardinality].getName, "set_digest_cardinality"),
      (args: Seq[Expression]) => SetDigestCardinality(args(0))),
    ("jaccard_index",
      new ExpressionInfo(classOf[JaccardIndex].getName, "jaccard_index"),
      (args: Seq[Expression]) => JaccardIndex(args(0), args(1))),
    ("intersection_cardinality",
      new ExpressionInfo(classOf[IntersectionCardinality].getName, "intersection_cardinality"),
      (args: Seq[Expression]) => IntersectionCardinality(args(0), args(1))),
    ("hash_counts",
      new ExpressionInfo(classOf[HashCounts].getName, "hash_counts"),
      (args: Seq[Expression]) => HashCounts(args(0))),
    ("st_contains",
      new ExpressionInfo(classOf[StContains].getName, "st_contains"),
      (args: Seq[Expression]) => StContains(args(0), args(1))),
    ("st_is_simple",
      new ExpressionInfo(classOf[GeoPredicate1].getName, "st_is_simple"),
      (args: Seq[Expression]) => GeoPredicate1(args(0), "st_is_simple")),
    ("st_is_valid",
      new ExpressionInfo(classOf[GeoPredicate1].getName, "st_is_valid"),
      (args: Seq[Expression]) => GeoPredicate1(args(0), "st_is_valid")),
    ("st_equals",
      new ExpressionInfo(classOf[GeoPredicate2].getName, "st_equals"),
      (args: Seq[Expression]) => GeoPredicate2(args(0), args(1), "st_equals")),
    ("st_touches",
      new ExpressionInfo(classOf[GeoPredicate2].getName, "st_touches"),
      (args: Seq[Expression]) => GeoPredicate2(args(0), args(1), "st_touches")),
    ("st_overlaps",
      new ExpressionInfo(classOf[GeoPredicate2].getName, "st_overlaps"),
      (args: Seq[Expression]) => GeoPredicate2(args(0), args(1), "st_overlaps")),
    ("st_crosses",
      new ExpressionInfo(classOf[GeoPredicate2].getName, "st_crosses"),
      (args: Seq[Expression]) => GeoPredicate2(args(0), args(1), "st_crosses")),
    ("st_difference",
      new ExpressionInfo(classOf[GeoCombine2].getName, "st_difference"),
      (args: Seq[Expression]) => GeoCombine2(args(0), args(1), "st_difference")),
    ("st_sym_difference",
      new ExpressionInfo(classOf[GeoCombine2].getName, "st_sym_difference"),
      (args: Seq[Expression]) => GeoCombine2(args(0), args(1), "st_sym_difference")),
    ("st_simplify",
      new ExpressionInfo(classOf[StSimplify].getName, "st_simplify"),
      (args: Seq[Expression]) => StSimplify(args(0), Cast(args(1), DoubleType))),
    // simplify_geometry — the Presto name for the same Douglas-Peucker
    // algorithm (GeoFunctions.java:800); registration-only gap, r3
    ("simplify_geometry",
      new ExpressionInfo(classOf[StSimplify].getName, "simplify_geometry"),
      (args: Seq[Expression]) => StSimplify(args(0), Cast(args(1), DoubleType))),
    ("line_locate_point",
      new ExpressionInfo(classOf[LineLocatePoint].getName, "line_locate_point"),
      (args: Seq[Expression]) => LineLocatePoint(args(0), args(1))),
    ("geometry_union",
      new ExpressionInfo(classOf[GeometryUnionN].getName, "geometry_union"),
      (args: Seq[Expression]) => GeometryUnionN(args(0))),
    ("geometry_invalid_reason",
      new ExpressionInfo(classOf[GeometryInvalidReason].getName, "geometry_invalid_reason"),
      (args: Seq[Expression]) => GeometryInvalidReason(args(0))),
    // ST_Relate: 3-arg = the reference's DE-9IM pattern predicate
    // (GeoFunctions.java:1078); 2-arg = the matrix string (PostGIS text
    // form) so the relation itself is value-checkable
    ("st_relate",
      new ExpressionInfo(classOf[StRelatePattern].getName, "st_relate"),
      (args: Seq[Expression]) =>
        if (args.length == 3) StRelatePattern(args(0), args(1), args(2))
        else StRelateMatrix(args(0), args(1))),
    // regexp_split(string, pattern) — JoniRegexpFunctions.java:275;
    // Presto keeps trailing empty fields, which is exactly Spark's
    // StringSplit with limit -1 (the engine IS Spark's split, only the
    // Presto name was unregistered)
    ("regexp_split",
      new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.StringSplit].getName,
        "regexp_split"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.StringSplit(args(0), args(1), Literal(-1))),
    ("st_as_binary",
      new ExpressionInfo(classOf[StAsBinary].getName, "st_as_binary"),
      (args: Seq[Expression]) => StAsBinary(args(0))),
    ("st_geom_from_binary",
      new ExpressionInfo(classOf[StGeomFromBinary].getName, "st_geom_from_binary"),
      (args: Seq[Expression]) => StGeomFromBinary(args(0))),
    ("url_encode",
      new ExpressionInfo(classOf[UrlEncode].getName, "url_encode"),
      (args: Seq[Expression]) => UrlEncode(args(0))),
    ("url_decode",
      new ExpressionInfo(classOf[UrlDecode].getName, "url_decode"),
      (args: Seq[Expression]) => UrlDecode(args(0))),
    ("beta_cdf",
      new ExpressionInfo(classOf[BetaCdf].getName, "beta_cdf"),
      (args: Seq[Expression]) => BetaCdf(Cast(args(0), DoubleType),
        Cast(args(1), DoubleType), Cast(args(2), DoubleType))),
    ("inverse_beta_cdf",
      new ExpressionInfo(classOf[InverseBetaCdf].getName, "inverse_beta_cdf"),
      (args: Seq[Expression]) => InverseBetaCdf(Cast(args(0), DoubleType),
        Cast(args(1), DoubleType), Cast(args(2), DoubleType))),
    ("erf",
      new ExpressionInfo(classOf[Erf].getName, "erf"),
      (args: Seq[Expression]) => Erf(Cast(args(0), DoubleType))),
    ("probit",
      new ExpressionInfo(classOf[Probit].getName, "probit"),
      (args: Seq[Expression]) => Probit(Cast(args(0), DoubleType))),
    ("hmac_md5",
      new ExpressionInfo(classOf[Hmac].getName, "hmac_md5"),
      (args: Seq[Expression]) => Hmac(args(0), args(1), "HmacMD5")),
    ("hmac_sha1",
      new ExpressionInfo(classOf[Hmac].getName, "hmac_sha1"),
      (args: Seq[Expression]) => Hmac(args(0), args(1), "HmacSHA1")),
    ("hmac_sha256",
      new ExpressionInfo(classOf[Hmac].getName, "hmac_sha256"),
      (args: Seq[Expression]) => Hmac(args(0), args(1), "HmacSHA256")),
    ("hmac_sha512",
      new ExpressionInfo(classOf[Hmac].getName, "hmac_sha512"),
      (args: Seq[Expression]) => Hmac(args(0), args(1), "HmacSHA512")),

    // MapAggregationFunction.java / MapUnionAggregation.java /
    // ReduceAggregationFunction.java (FunctionRegistry.java:606-649):
    // expressed as compositions of Catalyst aggregates so partial/final
    // split and codegen stay intact. Key dedup follows the session's
    // mapKeyDedupPolicy (GraftSession sets LAST_WIN, matching Presto's
    // keep-one behavior).
    ("map_agg",
      new ExpressionInfo(classOf[MapFromEntries].getName, "map_agg"),
      (args: Seq[Expression]) =>
        MapFromEntries(CollectList(CreateStruct(Seq(args(0), args(1))))
          .toAggregateExpression())),
    ("map_union",
      new ExpressionInfo(classOf[MapFromEntries].getName, "map_union"),
      (args: Seq[Expression]) =>
        MapFromEntries(Flatten(CollectList(MapEntries(args(0)))
          .toAggregateExpression()))),
    // ApplyFunction.java: apply(input, f) evaluates a unary lambda at
    // a scalar — a true HigherOrderFunction (see ApplyLambda.scala).
    // (invoke(f) — the ZERO-arg lambda cousin, InvokeFunction.java —
    // cannot be spelled: Spark's lambda grammar requires >=1 parameter;
    // declared out in SURVEY §2.2.)
    ("apply",
      new ExpressionInfo(classOf[ApplyLambda].getName, "apply"),
      (args: Seq[Expression]) => ApplyLambda(args(0), args(1))),
    ("reduce_agg",
      new ExpressionInfo(classOf[ArrayAggregate].getName, "reduce_agg"),
      (args: Seq[Expression]) => {
        // reduce_agg(x, s0, input_fn, combine_fn): Presto requires
        // input_fn commutative/associative, under which folding the
        // collected group with input_fn alone is equivalent; the
        // combine_fn argument is accepted for surface parity.
        val st = UnresolvedNamedLambdaVariable(Seq("graft_reduce_state"))
        val identity = LambdaFunction(st, Seq(st))
        ArrayAggregate(
          CollectList(args(0)).toAggregateExpression(),
          args(1), args(2), identity)
      }),

    // QuantileDigestAggregationFunction.java surface (KLL-backed).
    ("qdigest_agg",
      new ExpressionInfo(classOf[QdigestAgg].getName, "qdigest_agg"),
      (args: Seq[Expression]) =>
        QdigestAgg(Cast(args(0), DoubleType)).toAggregateExpression()),
    ("merge_qdigest",
      new ExpressionInfo(classOf[QdigestMergeAgg].getName, "merge_qdigest"),
      (args: Seq[Expression]) => QdigestMergeAgg(args(0)).toAggregateExpression()),
    ("value_at_quantile",
      new ExpressionInfo(classOf[ValueAtQuantile].getName, "value_at_quantile"),
      (args: Seq[Expression]) => ValueAtQuantile(args(0), args(1))),
    ("values_at_quantiles",
      new ExpressionInfo(classOf[ValuesAtQuantiles].getName, "values_at_quantiles"),
      (args: Seq[Expression]) => ValuesAtQuantiles(args(0), args(1))),
    ("quantile_at_value",
      new ExpressionInfo(classOf[QuantileAtValue].getName, "quantile_at_value"),
      (args: Seq[Expression]) => QuantileAtValue(args(0), args(1))),

    // General TRY(expr) (operator/scalar/TryFunction.java, grammar
    // SqlBase.g4:296): evaluate, null on runtime error. Spark's TryEval
    // is the exact engine mechanism (it powers try_add/try_divide).
    ("try",
      new ExpressionInfo(classOf[TryEval].getName, "try"),
      (args: Seq[Expression]) => TryEval(args(0))),

    // VarbinaryFunctions.java ieee754 plumbing + StringFunctions
    // normalize + the MySQL-pattern translator.
    ("double_to_bits",
      new ExpressionInfo(classOf[DoubleToBits].getName, "double_to_bits"),
      (args: Seq[Expression]) => DoubleToBits(Cast(args(0), DoubleType))),
    ("bits_to_double",
      new ExpressionInfo(classOf[BitsToDouble].getName, "bits_to_double"),
      (args: Seq[Expression]) => BitsToDouble(args(0))),
    ("float_to_bits",
      new ExpressionInfo(classOf[FloatToBits].getName, "float_to_bits"),
      (args: Seq[Expression]) => FloatToBits(args(0))),
    ("bits_to_float",
      new ExpressionInfo(classOf[BitsToFloat].getName, "bits_to_float"),
      (args: Seq[Expression]) => BitsToFloat(args(0))),
    ("normalize",
      new ExpressionInfo(classOf[NormalizeString].getName, "normalize"),
      (args: Seq[Expression]) =>
        if (args.length >= 2) NormalizeString(args(0), args(1))
        else NormalizeString(args(0),
          org.apache.spark.sql.catalyst.expressions.Literal("NFC"))),
    ("presto_pattern",
      new ExpressionInfo(classOf[PrestoPatternExpr].getName, "presto_pattern"),
      (args: Seq[Expression]) => PrestoPatternExpr(args(0))),
    ("img_header_meta",
      new ExpressionInfo(classOf[ImageHeaderMeta].getName, "img_header_meta"),
      (args: Seq[Expression]) => ImageHeaderMeta(args(0))),
    ("audio_header_meta",
      new ExpressionInfo(classOf[AudioHeaderMeta].getName, "audio_header_meta"),
      (args: Seq[Expression]) => AudioHeaderMeta(args(0))),
    ("png_pixel_stats",
      new ExpressionInfo(classOf[PngPixelStats].getName, "png_pixel_stats"),
      (args: Seq[Expression]) => PngPixelStats(args(0))),
    ("wav_sample_stats",
      new ExpressionInfo(classOf[WavSampleStats].getName, "wav_sample_stats"),
      (args: Seq[Expression]) => WavSampleStats(args(0))),
    ("video_header_meta",
      new ExpressionInfo(classOf[VideoHeaderMeta].getName, "video_header_meta"),
      (args: Seq[Expression]) => VideoHeaderMeta(args(0))),
    ("combine_hash",
      new ExpressionInfo(classOf[CombineHash].getName, "combine_hash"),
      (args: Seq[Expression]) =>
        CombineHash(Cast(args(0), LongType), Cast(args(1), LongType))),

    // (Presto's 3-arg date_add/date_diff(unit, …) are covered by
    // Spark's builtin 3-arg forms with unquoted units — the analyzer
    // resolves those names to its own TimestampAdd/TimestampDiff
    // builders before session registrations, so they cannot be shimmed
    // for quoted unit strings.)

    // checksum(x) (ChecksumAggregationFunction.java): order-independent
    // xor of 64-bit row hashes, as a callable aggregate.
    ("checksum",
      new ExpressionInfo(classOf[BitXorAgg].getName, "checksum"),
      (args: Seq[Expression]) =>
        BitXorAgg(XxHash64(args, 42L)).toAggregateExpression()),

    // geometric_mean(x) (GeometricMeanAggregations.java): exp∘avg∘ln —
    // numerically stable in log space, partial-agg friendly.
    ("geometric_mean",
      new ExpressionInfo(classOf[Average].getName, "geometric_mean"),
      (args: Seq[Expression]) =>
        Exp(Average(Log(Cast(args(0), DoubleType))).toAggregateExpression())),

    // approx_percentile(x, w, p) weighted form
    // (ApproximateLongPercentileAggregations.weightedInput:
    // qdigest.add(value, weight)). Spark's builtin approx_percentile
    // puts ACCURACY where Presto puts weight, so the weighted form
    // gets its own name; it maps to Spark's exact frequency-weighted
    // Percentile (strictly inside the qdigest error bound, same
    // partial-agg distribution shape). Not a SQL macro: Percentile
    // requires a foldable percentage, which a macro parameter is not.
    ("approx_percentile_weighted",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.Percentile].getName,
        "approx_percentile_weighted"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.Percentile(
          Cast(args(0), DoubleType), args(2), args(1)).toAggregateExpression()),

    // features(d1, …, dN) (presto-ml MLFeaturesFunctions.java): the
    // feature-vector constructor, a map {0→d1, …, N-1→dN}. The only
    // ML-plugin function with pure relational semantics (the svm
    // learn/classify family stays declared out, SURVEY §7.2).
    ("features",
      new ExpressionInfo(classOf[CreateMap].getName, "features"),
      (args: Seq[Expression]) =>
        CreateMap(args.zipWithIndex.flatMap { case (a, i) =>
          Seq(Literal(i.toLong), Cast(a, DoubleType))
        })),

    // SpookyHash V2 (VarbinaryFunctions.java:280-297).
    ("spooky_hash_v2_32",
      new ExpressionInfo(classOf[SpookyHash32].getName, "spooky_hash_v2_32"),
      (args: Seq[Expression]) => SpookyHash32(args(0))),
    ("spooky_hash_v2_64",
      new ExpressionInfo(classOf[SpookyHash64].getName, "spooky_hash_v2_64"),
      (args: Seq[Expression]) => SpookyHash64(args(0))),

    // word_stem(word[, lang]) — WordStemFunction.java:56-97. The 1-arg
    // form and lang='en' route to the unary Porter2 expression; other
    // implemented codes (SnowballStemmers.Languages) dispatch per-row
    // through WordStem2, so a non-literal lang column works like the
    // reference's call-time stemmer resolution. An unknown LITERAL
    // code raises at analysis (eager, like the reference); an unknown
    // runtime code raises from SnowballStemmers.stem.
    ("word_stem",
      new ExpressionInfo(classOf[WordStem].getName, "word_stem"),
      (args: Seq[Expression]) => {
        args match {
          case Seq(w) => WordStem(w)
          case Seq(w, org.apache.spark.sql.catalyst.expressions.Literal(v, _))
              if v != null =>
            val lang = v.toString
            if (lang == "en") WordStem(w)
            else if (SnowballStemmers.Languages(lang))
              WordStem2(w, args(1))
            else
              throw new IllegalArgumentException(
                s"word_stem: unsupported language [$lang] " +
                  "(Unknown stemmer language)")
          case Seq(w, l) => WordStem2(w, l)
        }
      }),

    // approx_most_frequent(buckets, value, capacity)
    // (ApproximateMostFrequentFunction.java) — Misra-Gries heavy
    // hitters with bounded per-group memory.
    ("approx_most_frequent",
      new ExpressionInfo(classOf[ApproxMostFrequentAgg].getName, "approx_most_frequent"),
      (args: Seq[Expression]) =>
        ApproxMostFrequentAgg(args(0), args(1), args(2)).toAggregateExpression()),

    // presto-ml learn/classify/regress tier (MLFunctions.java,
    // Learn*Aggregation.java) — single-pass mergeable sufficient
    // statistics instead of the reference's buffer-all-rows libsvm
    // train; see MlFunctions.scala scaladoc for the divergences.
    ("learn_regressor",
      new ExpressionInfo(classOf[LearnRegressorAgg].getName, "learn_regressor"),
      (args: Seq[Expression]) =>
        LearnRegressorAgg(Cast(args(0), DoubleType), args(1)).toAggregateExpression()),
    ("learn_classifier",
      new ExpressionInfo(classOf[LearnClassifierAgg].getName, "learn_classifier"),
      (args: Seq[Expression]) =>
        LearnClassifierAgg(args(0), args(1)).toAggregateExpression()),
    ("regress",
      new ExpressionInfo(classOf[Regress].getName, "regress"),
      (args: Seq[Expression]) => Regress(args(0), args(1))),
    ("classify",
      new ExpressionInfo(classOf[Classify].getName, "classify"),
      (args: Seq[Expression]) => Classify(args(0), args(1), asString = false)),
    ("classify_varchar",
      new ExpressionInfo(classOf[Classify].getName, "classify_varchar"),
      (args: Seq[Expression]) => Classify(args(0), args(1), asString = true)),
    ("evaluate_classifier_predictions",
      new ExpressionInfo(classOf[EvaluatePredictionsAgg].getName,
        "evaluate_classifier_predictions"),
      (args: Seq[Expression]) =>
        EvaluatePredictionsAgg(args(0), args(1)).toAggregateExpression()),

    // learn_libsvm_*(label, features, params) — name-compat aliases
    // (LearnLibSvmClassifierAggregation.java). libsvm itself is not
    // bundled (declared, SURVEY §7.2): the params string is accepted
    // for syntax parity and IGNORED; training is the same mergeable
    // centroid/OLS aggregate as the unsuffixed names. A query ported
    // from the reference runs and gets a model of the documented
    // divergent family rather than an undefined-function error — the
    // divergence is surfaced at plan time (once per JVM), not only in
    // SURVEY (ADVICE r3).
    ("learn_libsvm_classifier",
      new ExpressionInfo(classOf[LearnClassifierAgg].getName, "learn_libsvm_classifier"),
      (args: Seq[Expression]) => {
        warnLibsvmParamsIgnored(args)
        LearnClassifierAgg(args(0), args(1)).toAggregateExpression()
      }),
    ("learn_libsvm_regressor",
      new ExpressionInfo(classOf[LearnRegressorAgg].getName, "learn_libsvm_regressor"),
      (args: Seq[Expression]) => {
        warnLibsvmParamsIgnored(args)
        LearnRegressorAgg(Cast(args(0), DoubleType), args(1)).toAggregateExpression()
      })
  )

  private val libsvmWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Validate a libsvm hyperparameter string with EXACTLY the
    * reference's grammar (presto-ml `LibSvmUtils.parseParameters`:
    * comma-separated key=value pairs, known keys kernel/degree/gamma/
    * coef0/C/nu/eps, unknown key → INVALID_FUNCTION_ARGUMENT; kernel ∈
    * linear/poly/rbf/sigmoid per `parseKernelType`). A query ported
    * from the reference fails on the same typos it would fail on there
    * — the values themselves are then IGNORED, because training is the
    * documented divergent centroid/OLS family (SURVEY §2.8).
    */
  private[graft] def validateLibsvmParams(s: String): Unit =
    s.split(',').map(_.trim).filter(_.nonEmpty).foreach { split =>
      val pair = split.split("=")
      require(pair.length == 2, "Invalid hyperparameters string for libsvm")
      val key = pair(0).trim
      val value = pair(1).trim
      key match {
        case "kernel" =>
          val kernels = Set("linear", "poly", "rbf", "sigmoid")
          if (!kernels.contains(value.toLowerCase(java.util.Locale.ENGLISH)))
            throw new IllegalArgumentException(s"Unknown kernel type $value")
        case "degree" => value.toInt
        case "gamma" | "coef0" | "C" | "nu" | "eps" => value.toDouble
        case other =>
          throw new IllegalArgumentException(s"Unknown parameter $other")
      }
    }

  private def warnLibsvmParamsIgnored(args: Seq[Expression]): Unit =
    if (args.length >= 3) {
      // plan-time validation when the params argument is a literal —
      // the common shape in the reference's own tests
      args(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _: org.apache.spark.sql.types.StringType) if v != null =>
          validateLibsvmParams(v.toString)
        case _ =>
      }
      if (libsvmWarned.compareAndSet(false, true))
        System.err.println(
          "WARN graft: learn_libsvm_* validates but IGNORES the libsvm params " +
            "argument and trains the centroid/OLS family instead (libsvm is " +
            "not bundled; see SURVEY §2.8)")
    }

  /** Presto-collapsed alias names for the multi-word ST_ expressions
    * (Presto is case-insensitive: `ST_IsValid` resolves as `st_isvalid`,
    * not the internal snake_case spelling; GeoFunctions.java:136-1119).
    * Registered alongside — not instead of — the snake_case names.
    */
  private val prestoGeoAliases: Seq[(String, String)] = Seq(
    "st_asbinary"      -> "st_as_binary",
    "st_convexhull"    -> "st_convex_hull",
    "st_geomfrombinary" -> "st_geom_from_binary",
    "st_issimple"      -> "st_is_simple",
    "st_isvalid"       -> "st_is_valid",
    "st_symdifference" -> "st_sym_difference")

  lazy val allWithAliases: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    all ++ prestoGeoAliases.map { case (alias, orig) =>
      val (_, info, builder) = all.find(_._1 == orig).getOrElse(
        throw new IllegalStateException(s"alias target $orig not registered"))
      (alias, info, builder)
    }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    allWithAliases.foreach { case (name, info, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.allWithAliases.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    graft.GraftSession.injectPlanRules(ext)
  }
}
