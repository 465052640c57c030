package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-nearest-neighbor classification and regression (reference
  * Orange/classification/knn.py and Orange/regression/knn.py — sklearn
  * KNeighborsClassifier/Regressor with uniform weights, euclidean
  * metric).
  *
  * Scale shapes:
  *  - exact path: test × train candidate join with the TEST side
  *    broadcast (prediction workloads score a small batch against a big
  *    reference corpus; the corpus never shuffles), then one window per
  *    test row ranked by (distance, train id) — fully deterministic,
  *    oracle-verifiable.
  *  - LSH path (embeddings): candidates restricted to the query's
  *    random-hyperplane bucket (SimilarityOps.lshTopKCosine) — an
  *    equi-join on bucket id, no all-pairs scan; vote/mean on top. The
  *    standard approximate trade: cross-bucket neighbors are missed.
  *
  * Determinism: squared distance is a fixed left-assoc chain over the
  * feature list (identical IEEE result in both engines); ties at the
  * k-boundary break by train id; vote ties break by smallest label.
  */
object KNN {

  private def dist2(fs: Seq[String]): Column =
    fs.map(f => (col(s"__t_$f") - col(s"__r_$f")) * (col(s"__t_$f") - col(s"__r_$f")))
      .reduce(_ + _)

  /** (test id, train id) candidate table: the k nearest train rows per
    * test row. `test` is broadcast — keep it the small side. The top-k
    * cut runs through the bounded TopKPairs aggregate (map-side k-entry
    * heaps per test id), NOT a row_number window: the window form
    * shuffled and sorted the whole |test|·|train| candidate table, which
    * is the quadratic term the sf1 rehearsal exposed (ml_knn_class 50 s
    * at the 10× replica; the aggregate form ships ≤ k·partitions rows
    * per test id). Selection is identical — k smallest by (d2, rid)
    * lexicographic, boundary ties by train id. */
  /** TopKPairs carries the train id as a long through the aggregate; a
    * non-integral id column (e.g. string keys) would cast to null and
    * silently drop every neighbor where the old row_number window kept
    * any id type — fail loudly instead. Scale-0 decimals with p ≤ 18
    * cast losslessly to long — some TPC-H parquet generators emit
    * DECIMAL(p,0) keys and those worked under the old window form, so
    * keep accepting them. */
  private def requireIntegralId(train: DataFrame, id: String): Unit = {
    val idType = train.schema(id).dataType
    val integral = idType match {
      case d: org.apache.spark.sql.types.DecimalType =>
        d.scale == 0 && d.precision <= 18
      case t => Seq("byte", "short", "integer", "long").contains(t.typeName)
    }
    require(integral,
      s"kNN requires an integral id column (or DECIMAL(p<=18,0)); '$id' is ${idType.sql}")
  }

  private def neighbors(test: DataFrame, train: DataFrame, id: String,
                        features: Seq[String], k: Int): DataFrame = {
    requireIntegralId(train, id)
    graft.functions.TopKAgg.ensureHashAggCapacity(train.sparkSession)
    val t = test.select(col(id).as("__tid") +:
      features.map(f => col(f).cast("double").as(s"__t_$f")): _*)
    val r = train.select(col(id).as("__rid") +:
      features.map(f => col(f).cast("double").as(s"__r_$f")): _*)
    broadcast(t).join(r, col("__tid") =!= col("__rid"))
      .withColumn("__d2", dist2(features))
      .groupBy(col("__tid"))
      .agg(graft.functions.TopKAgg.topKPairs(
        col("__d2"), col("__rid").cast("long"), k).as("__nn"))
      .select(col("__tid"), explode(col("__nn")).as("__e"))
      .select(col("__tid"), col("__e.id").as("__rid"))
  }

  /** IVF shortlist + exact re-rank — the scale path for exact-metric kNN
    * (closes the |test|·|train| full evaluation that remains in
    * [[neighbors]]; same shape as SimilarityOps.ivfTopKCosine but over
    * euclidean feature columns):
    *
    *  1. coarse quantizer: `nlist` centroids seeded from the smallest
    *     train ids, refined by `lloyd` exact Lloyd rounds (assignment =
    *     broadcast-join vs the tiny centroid table, update = one
    *     exactMean aggregation per feature);
    *  2. inverted lists: every train row keyed by its nearest centroid —
    *     one narrow table, no shuffle beyond list_id;
    *  3. search: each test row probes its `nprobe` nearest centroids and
    *     exact-scores ONLY those lists — candidate volume shrinks by
    *     ~nprobe/nlist vs the full cross product at any corpus size.
    *
    * The re-rank inside the probed lists uses the IDENTICAL fixed-chain
    * d2 and TopKPairs (d2, rid) selection as the exact path, so with
    * nprobe = nlist the output is bit-identical to [[neighbors]]
    * (KNNSpec pins it — the same identity ann_ivf pins for cosine);
    * smaller nprobe trades recall for scan volume. */
  private def neighborsIVF(test: DataFrame, train: DataFrame, id: String,
                           features: Seq[String], k: Int, nlist: Int,
                           nprobe: Int, lloyd: Int = 2): DataFrame = {
    requireIntegralId(train, id)
    graft.functions.TopKAgg.ensureHashAggCapacity(train.sparkSession)
    val spark = train.sparkSession
    import spark.implicits._
    val dim = features.length
    // id columns keep their ORIGINAL types (mirroring [[neighbors]] —
    // the long cast happens only inside TopKPairs), so exact and IVF
    // outputs are schema-identical
    val tr = train.select(col(id).as("__rid") +:
      features.map(f => col(f).cast("double").as(s"__r_$f")): _*)
    var centroids: Seq[(Long, Seq[Double])] = tr
      .withColumn("__rl", col("__rid").cast("long"))
      .orderBy(col("__rl")).limit(nlist).collect()
      .map(r => (r.getAs[Long]("__rl"),
        (0 until dim).map(i => r.getDouble(i + 1)).toSeq)).toSeq
      .sortBy(_._1).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    // zero-expansion argmin kernel (SimilarityOps.assignTopR, D2 mode) —
    // the same fixed left-assoc (x−c)² accumulation as dist2 and the
    // same (d2 asc, list_id asc) order the old crossJoin+window used,
    // so assignments are bit-unchanged while the nlist× row expansion +
    // Exchange + sort are gone
    def assign(df: DataFrame, pre: String, rank: Int): DataFrame =
      graft.similarity.SimilarityOps.assignTopR(df, centroids,
        array(features.map(f => col(s"$pre$f")): _*),
        graft.functions.CentroidSelect.D2, asc = true, rank, "list_id")
    for (_ <- 1 to lloyd) {
      val assigned = assign(tr, "__r_", 1)
      val dims = features.map(f => graft.core.Tables.exactMean(
        col(s"__r_$f")).as(s"__m_$f"))
      centroids = assigned.groupBy(col("list_id"))
        .agg(dims.head, dims.tail: _*).collect()
        .map(r => (r.getLong(0), (1 to dim).map(r.getDouble).toSeq))
        .toSeq.sortBy(_._1)
    }
    val invlists = assign(tr, "__r_", 1)
    val te = test.select(col(id).as("__tid") +:
      features.map(f => col(f).cast("double").as(s"__t_$f")): _*)
    val probes = assign(te, "__t_", nprobe)
    broadcast(probes).join(invlists, Seq("list_id"))
      .filter(col("__tid") =!= col("__rid"))
      .withColumn("__d2", dist2(features))
      .groupBy(col("__tid"))
      .agg(graft.functions.TopKAgg.topKPairs(
        col("__d2"), col("__rid").cast("long"), k).as("__nn"))
      .select(col("__tid"), explode(col("__nn")).as("__e"))
      .select(col("__tid"), col("__e.id").as("__rid"))
  }

  /** Candidate router: exact by default (fixture scale), IVF shortlist +
    * exact re-rank when `ivf = Some((nlist, nprobe))` — the form to use
    * when |test|·|train| stops being scannable. */
  private def route(test: DataFrame, train: DataFrame, id: String,
                    features: Seq[String], k: Int,
                    ivf: Option[(Int, Int)]): DataFrame = ivf match {
    case Some((nlist, nprobe)) =>
      neighborsIVF(test, train, id, features, k, nlist, nprobe)
    case None => neighbors(test, train, id, features, k)
  }

  /** kNN classification: majority vote of the k nearest train rows,
    * ties → smallest label. Returns (id, prediction) per test row.
    * @param ivf optional (nlist, nprobe) IVF shortlist (see
    *   [[neighborsIVF]]); None = exact. */
  def classify(test: DataFrame, train: DataFrame, id: String,
               features: Seq[String], target: String, k: Int,
               ivf: Option[(Int, Int)] = None): DataFrame = {
    val nn = route(test, train, id, features, k, ivf)
    val nnWithCls = nn.join(
      train.select(col(id).as("__rid"), col(target).as("__cls")), "__rid")
    val vw = Window.partitionBy(col("__tid"))
      .orderBy(col("__n").desc, col("__cls").asc)
    nnWithCls.groupBy(col("__tid"), col("__cls"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__vr", row_number().over(vw))
      .filter(col("__vr") === 1)
      .select(col("__tid").as(id), col("__cls").as("prediction"))
  }

  /** kNN regression: mean target of the k nearest train rows (uniform
    * weights), summed through the deterministic decimal path.
    * @param ivf optional (nlist, nprobe) IVF shortlist (see
    *   [[neighborsIVF]]); None = exact. */
  def regress(test: DataFrame, train: DataFrame, id: String,
              features: Seq[String], target: String, k: Int,
              ivf: Option[(Int, Int)] = None): DataFrame = {
    val nn = route(test, train, id, features, k, ivf)
    val nnWithY = nn.join(
      train.select(col(id).as("__rid"), col(target).cast("double").as("__y")),
      "__rid")
    nnWithY.groupBy(col("__tid"))
      .agg((graft.core.Tables.exactSum(col("__y")) / count(lit(1))).as("prediction"))
      .select(col("__tid").as(id), col("prediction"))
  }

  /** Learner-facade wrappers (Orange base.py Learner/Model contract). */
  final case class KNNClassifier(idCol: String, features: Seq[String],
                                 target: String, k: Int)
      extends Learners.Learner {
    def fit(train: DataFrame): Learners.Model = new Learners.Model {
      def predict(df: DataFrame): DataFrame =
        df.join(classify(df, train, idCol, features, target, k), idCol)
    }
  }
  final case class KNNRegressor(idCol: String, features: Seq[String],
                                target: String, k: Int)
      extends Learners.Learner {
    def fit(train: DataFrame): Learners.Model = new Learners.Model {
      def predict(df: DataFrame): DataFrame =
        df.join(regress(df, train, idCol, features, target, k), idCol)
    }
  }

  /** LSH-bucketed kNN classification over an embedding column — the
    * 100 TB path: candidates come from the query's hyperplane bucket
    * (equi-join, no all-pairs), exact cosine + vote within the bucket.
    * Approximate (cross-bucket neighbors missed); spec-pinned
    * differentially against the exact vote on bucket-mates. */
  def classifyEmbeddingsLSH(test: DataFrame, train: DataFrame, id: String,
                            vec: String, dim: Int, target: String, k: Int,
                            nPlanes: Int): DataFrame = {
    val nn = graft.similarity.SimilarityOps.lshTopKCosine(
      test, train, id, vec, dim, k, nPlanes)
    val vw = Window.partitionBy(col("query_id"))
      .orderBy(col("__n").desc, col("__cls").asc)
    nn.join(train.select(col(id).as("neighbor_id"),
        col(target).as("__cls")), "neighbor_id")
      .groupBy(col("query_id"), col("__cls"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__vr", row_number().over(vw))
      .filter(col("__vr") === 1)
      .select(col("query_id").as(id), col("__cls").as("prediction"))
  }
}
