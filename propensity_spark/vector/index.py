"""Persistent IVF vector index — the serving half of the ANN family
(vector/similarity.py holds the in-session algorithms; this is the
build -> save -> load -> add -> query lifecycle a vector store needs,
mirroring feature_store.FeatureTable for embeddings).

Layout on disk:
    <path>/centroids/        k rows (cluster, cv) — the coarse quantizer
    <path>/vectors/cluster=N/  assigned vectors, PARTITIONED BY cluster

Partitioning by cluster is the scale design: an nprobe query reads
ONLY the probed clusters' partitions (Spark prunes at the scan —
pinned by a PartitionFilters plan test), so each query batch touches
~nprobe/k of the corpus on disk, the IVF contract. `add()` assigns
new vectors map-side against broadcast centroids and appends only the
affected partitions; the quantizer is NOT refit (standard IVF
practice — rebuild when drift warrants).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propensity_spark.vector.similarity import _cosine

IVF_K = 16
IVF_NPROBE = 12
IVF_SEED = 42


class VectorIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = str(path)

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        vectors: DataFrame,
        path: str,
        k: int = IVF_K,
    ) -> "VectorIndex":
        """Fit the seeded coarse quantizer and materialize the index.
        `vectors` = (vec_id, v array<double>). At corpus scale the fit
        runs on a sample (KMeans cost is per-iteration linear); the
        full assignment is one broadcast-centroid map pass."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = vectors.select(
            "vec_id", "v", array_to_vector("v").alias("features")
        )
        model = KMeans(k=k, seed=IVF_SEED, maxIter=10).fit(feats)
        centroids = spark.createDataFrame(
            [
                (i, [float(x) for x in c])
                for i, c in enumerate(model.clusterCenters())
            ],
            "cluster int, cv array<double>",
        )
        idx = cls(spark, path)
        centroids.coalesce(1).write.mode("overwrite").parquet(idx._centroid_path)
        assigned = idx._assign(vectors, centroids)
        assigned.write.mode("overwrite").partitionBy("cluster").parquet(
            idx._vector_path
        )
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VectorIndex":
        idx = cls(spark, path)
        if not Path(idx._centroid_path).exists():
            raise FileNotFoundError(f"no index at {path}")
        return idx

    @property
    def _centroid_path(self) -> str:
        return str(Path(self.path) / "centroids")

    @property
    def _vector_path(self) -> str:
        return str(Path(self.path) / "vectors")

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self._centroid_path)

    def vectors(self) -> DataFrame:
        return self.spark.read.parquet(self._vector_path)

    # -- maintenance -------------------------------------------------------

    def add(self, vectors: DataFrame) -> None:
        """Assign new vectors against the EXISTING quantizer (broadcast
        map pass) and append; only the clusters receiving rows write."""
        assigned = self._assign(vectors, self.centroids())
        assigned.write.mode("append").partitionBy("cluster").parquet(
            self._vector_path
        )

    def _assign(self, vectors: DataFrame, centroids: DataFrame) -> DataFrame:
        """Nearest-centroid by cosine, deterministic cluster tie-break;
        centroids broadcast, assignment entirely map-side."""
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id").orderBy(
            F.desc("c_cos"), F.asc("cluster")
        )
        return (
            vectors.crossJoin(F.broadcast(centroids))
            .withColumn("c_cos", F.expr(_cosine("v", "cv")))
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select("vec_id", "v", "cluster")
        )

    # -- serving -----------------------------------------------------------

    def query(
        self,
        queries: DataFrame,
        top_k: int = 5,
        nprobe: int = IVF_NPROBE,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Batch ANN: probe the nprobe nearest clusters per query, scan
        only those partitions (the probe-cluster set reaches the scan
        as a partition filter), exact cosine re-rank inside candidates.
        `queries` = (query_id, qv array<double>)."""
        from pyspark.sql import Window

        cents = self.centroids()
        probe_w = Window.partitionBy("query_id").orderBy(
            F.desc("c_cos"), F.asc("cluster")
        )
        probes = (
            queries.crossJoin(F.broadcast(cents))
            .withColumn("c_cos", F.expr(_cosine("qv", "cv")))
            .withColumn("__p", F.row_number().over(probe_w))
            .where(F.col("__p") <= nprobe)
            .select("query_id", "qv", "cluster")
        )
        # the probed-cluster list is O(k) — bounded — and turning it into
        # a literal IN filter is what lets the scan prune partitions
        probe_clusters = sorted(
            {r["cluster"] for r in probes.select("cluster").distinct().collect()}
        )
        candidates = self.vectors().where(F.col("cluster").isin(probe_clusters))
        scored = probes.join(candidates, "cluster")
        if exclude_self:
            scored = scored.where(F.col("vec_id") != F.col("query_id"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_raw"), F.asc("vec_id")
        )
        return (
            scored.withColumn("cos_raw", F.expr(_cosine("qv", "v")))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select(
                "query_id",
                "vec_id",
                "rank",
                F.round(F.col("cos_raw") + 1e-9, 6).alias("cosine"),
            )
        )
