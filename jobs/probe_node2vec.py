"""A/B probe: node2vec per-step prev-adjacency test as a packed-long
broadcast join over the integer-encoded graph (the triangles closing
trick) vs the current string-space shuffle left join; also an int-key
variant of random_walks.  Warm best-of-3, noop-sink methodology."""
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from prec_spark.session import build_session

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
spark = build_session(
    app_name="probe-n2v",
    master=f"local[{cpus}]",
    shuffle_partitions=2 * cpus,
    extra_conf={
        "spark.local.dir": "/dev/shm/prec-spark-bench",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
    },
)

from prec_spark.entry_queries import _kg_instance_graph, _kg_und, _kg_undc
from prec_spark.plans.node2vec import (
    node2vec_walks, STEPS, SAMPLE_MOD, W_RETURN, W_COMMON, W_FAR,
)
from prec_spark.plans.walks import NBR_CAP, _md5_int, random_walks


def t(name, mk, reps=3):
    """mk: thunk building the DataFrame FRESH per rep (lazy checkpoints
    otherwise persist across reps and the later reps measure a no-op)."""
    best = 1e18
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"{name} rep{i}")
        t0 = time.time()
        mk().write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    print(f"{name}: {best:.2f}s", flush=True)
    return best


und = _kg_und(spark, sf_dir)
ids, iund, _sl = _kg_instance_graph(spark, sf_dir)
undc = _kg_undc(spark, sf_dir, und)
print("nodes:", ids.count(), "und:", und.count(), "undc:", undc.count(),
      flush=True)

# ---- current shapes, warm ----
t("n2v-current", lambda: node2vec_walks(und, undc=undc))
t("rw-current", lambda: random_walks(und, undc=undc))

# ---- one-time int encodes (would be session-cached in the entry) ----
t0 = time.time()
src_map = ids.select(F.col("node").alias("src"), F.col("nid").alias("src_i"))
dst_map = ids.select(F.col("node").alias("dst"), F.col("nid").alias("dst_i"))
undc_i = (
    undc.join(src_map, "src")
    .join(dst_map, "dst")
    .select("src_i", "dst_i", F.col("dst").alias("dst_s"))
    .localCheckpoint()
)
print(f"undc_i encode: {time.time()-t0:.2f}s rows={undc_i.count()}", flush=True)

packed = iund.filter(F.col("isrc") < F.col("idst")).select(
    (F.col("isrc") * F.lit(1 << 32) + F.col("idst")).alias("bc")
)


def node2vec_int(steps=STEPS, sample_mod=SAMPLE_MOD):
    starts = ids.filter(
        _md5_int(F.concat(F.lit("n2v#"), F.col("node"))) % sample_mod == 0
    )
    frontier = starts.select(
        F.col("node").alias("walk"),
        F.col("nid").alias("prev_i"),
        F.col("nid").alias("cur_i"),
        F.col("node").alias("cur_s"),
    ).localCheckpoint(eager=False)
    out = frontier.select(
        "walk", F.lit(0).cast("long").alias("step"), F.col("cur_s").alias("node")
    )
    for k in range(1, steps + 1):
        cand = frontier.join(undc_i, frontier["cur_i"] == undc_i["src_i"]).select(
            "walk", "prev_i", "cur_i", F.col("dst_i").alias("nb_i"),
            F.col("dst_s").alias("nb_s"),
        )
        if k == 1:
            wgt = F.when(
                F.col("nb_i") == F.col("prev_i"), F.lit(W_RETURN)
            ).otherwise(F.lit(W_COMMON))
            cand = cand.withColumn("wgt", wgt)
        else:
            key = (
                F.least("prev_i", "nb_i") * F.lit(1 << 32)
                + F.greatest("prev_i", "nb_i")
            )
            cand = cand.join(
                F.broadcast(packed), key == packed["bc"], "left"
            ).withColumn(
                "wgt",
                F.when(F.col("nb_i") == F.col("prev_i"), F.lit(W_RETURN))
                .when(F.col("bc").isNotNull(), F.lit(W_COMMON))
                .otherwise(F.lit(W_FAR)),
            )
        cand = cand.withColumn(
            "j", F.explode(F.sequence(F.lit(0), F.col("wgt") - 1))
        )
        h = _md5_int(
            F.concat(
                F.lit("n2v#"), F.col("walk"), F.lit(f"#{k}#"), F.col("nb_s"),
                F.lit("#"), F.col("j").cast("string"),
            )
        )
        pick = F.concat(F.lpad(h.cast("string"), 10, "0"), F.col("nb_s"))
        frontier = (
            cand.groupBy("walk")
            .agg(
                F.max("cur_i").alias("prev_i"),
                F.min(F.struct(pick.alias("p"), F.col("nb_i").alias("i"))).alias("m"),
            )
            .select(
                "walk", "prev_i", F.col("m.i").alias("cur_i"),
                F.expr("substring(m.p, 11)").alias("cur_s"),
            )
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(
            frontier.select(
                "walk", F.lit(k).cast("long").alias("step"),
                F.col("cur_s").alias("node"),
            )
        )
    return out


def random_walks_int(steps=6, sample_mod=101):
    starts = ids.filter(
        _md5_int(F.concat(F.lit("rw#"), F.col("node"))) % sample_mod == 0
    )
    frontier = starts.select(
        F.col("node").alias("walk"), F.col("nid").alias("cur_i"),
        F.col("node").alias("cur_s"),
    ).localCheckpoint(eager=False)
    out = frontier.select(
        "walk", F.lit(0).cast("long").alias("step"), F.col("cur_s").alias("node")
    )
    for k in range(1, steps + 1):
        h = _md5_int(
            F.concat(F.lit("s#"), F.col("walk"), F.lit(f"#{k}#"), F.col("dst_s"))
        )
        pick = F.concat(F.lpad(h.cast("string"), 10, "0"), F.col("dst_s"))
        frontier = (
            frontier.join(undc_i, frontier["cur_i"] == undc_i["src_i"])
            .groupBy("walk")
            .agg(F.min(F.struct(pick.alias("p"), F.col("dst_i").alias("i"))).alias("m"))
            .select(
                "walk", F.col("m.i").alias("cur_i"),
                F.expr("substring(m.p, 11)").alias("cur_s"),
            )
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(
            frontier.select(
                "walk", F.lit(k).cast("long").alias("step"),
                F.col("cur_s").alias("node"),
            )
        )
    return out


t("n2v-int-packed-bcast", node2vec_int)
t("rw-int", random_walks_int)
n2v_i = node2vec_int()
rw_i = random_walks_int()



def node2vec_int_shuffle(steps=STEPS, sample_mod=SAMPLE_MOD):
    """Int keys throughout, adjacency test as the original shuffle left
    join but against the INT edge list."""
    adj_i = iund.select(
        F.col("isrc").alias("prev_i"), F.col("idst").alias("nb_i"),
        F.lit(1).alias("is_common"),
    )
    starts = ids.filter(
        _md5_int(F.concat(F.lit("n2v#"), F.col("node"))) % sample_mod == 0
    )
    frontier = starts.select(
        F.col("node").alias("walk"),
        F.col("nid").alias("prev_i"),
        F.col("nid").alias("cur_i"),
        F.col("node").alias("cur_s"),
    ).localCheckpoint(eager=False)
    out = frontier.select(
        "walk", F.lit(0).cast("long").alias("step"), F.col("cur_s").alias("node")
    )
    for k in range(1, steps + 1):
        cand = frontier.join(undc_i, frontier["cur_i"] == undc_i["src_i"]).select(
            "walk", "prev_i", "cur_i", F.col("dst_i").alias("nb_i"),
            F.col("dst_s").alias("nb_s"),
        )
        if k == 1:
            wgt = F.when(
                F.col("nb_i") == F.col("prev_i"), F.lit(W_RETURN)
            ).otherwise(F.lit(W_COMMON))
            cand = cand.withColumn("wgt", wgt)
        else:
            cand = cand.join(adj_i, ["prev_i", "nb_i"], "left").withColumn(
                "wgt",
                F.when(F.col("nb_i") == F.col("prev_i"), F.lit(W_RETURN))
                .when(F.col("is_common").isNotNull(), F.lit(W_COMMON))
                .otherwise(F.lit(W_FAR)),
            )
        cand = cand.withColumn(
            "j", F.explode(F.sequence(F.lit(0), F.col("wgt") - 1))
        )
        h = _md5_int(
            F.concat(
                F.lit("n2v#"), F.col("walk"), F.lit(f"#{k}#"), F.col("nb_s"),
                F.lit("#"), F.col("j").cast("string"),
            )
        )
        pick = F.concat(F.lpad(h.cast("string"), 10, "0"), F.col("nb_s"))
        frontier = (
            cand.groupBy("walk")
            .agg(
                F.max("cur_i").alias("prev_i"),
                F.min(F.struct(pick.alias("p"), F.col("nb_i").alias("i"))).alias("m"),
            )
            .select(
                "walk", "prev_i", F.col("m.i").alias("cur_i"),
                F.expr("substring(m.p, 11)").alias("cur_s"),
            )
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(
            frontier.select(
                "walk", F.lit(k).cast("long").alias("step"),
                F.col("cur_s").alias("node"),
            )
        )
    return out


t("n2v-int-shuffle-adj", node2vec_int_shuffle)
e_df = node2vec_int_shuffle().orderBy("walk", "step", "node").toPandas()

# identity checks
a = node2vec_walks(und, undc=undc).orderBy("walk", "step", "node").toPandas()
b = n2v_i.orderBy("walk", "step", "node").toPandas()
print("n2v identical:", a.equals(b), "rows:", len(a), flush=True)
c = random_walks(und, undc=undc).orderBy("walk", "step", "node").toPandas()
d = rw_i.orderBy("walk", "step", "node").toPandas()
print("rw identical:", c.equals(d), "rows:", len(c), flush=True)
print("n2v-shuffle identical:", a.equals(e_df), flush=True)

spark.stop()
