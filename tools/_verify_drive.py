import os, sys, tempfile
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from topicalcrawler_spark.session import get_spark
from topicalcrawler_spark.plans.round import CrawlConfig, crawl_round, init_crawl
from topicalcrawler_spark import icelite, streaming as st
from topicalcrawler_spark.sources import fixtures as fx
from topicalcrawler_spark.operators.images import decode_verify

root = tempfile.mkdtemp(); seeds = os.path.join(root, "seeds.txt")
fx.write_seed_file(seeds)
spark = get_spark(cpus=8, shuffle_partitions=8)
cfg = CrawlConfig(root=os.path.join(root, "crawl"))
init_crawl(spark, cfg, seeds)
tracker = spark.sparkContext.statusTracker()
for r in (1, 2):
    # job ids with no job group: every job a crawl round starts
    before = set(tracker.getJobIdsForGroup())
    s = crawl_round(spark, cfg, r)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(set(tracker.getJobIdsForGroup()) - before)
    print(f"round {r}: {n_jobs} Spark jobs, n_fetched={s['n_fetched']}, "
          f"n_new={s['n_new']}, wall {s['wall_s']:.1f} s")
    assert s["n_verify_failed"] == 0
corpus = icelite.read_snapshot(spark, cfg.table("corpus"))
assert decode_verify(corpus).filter("NOT decode_ok OR dec_phash != phash").count() == 0
table = os.path.join(root, "stream_counts")
st.run_to_icelite(st.tumbling_counts(st.events_stream(spark, "/root/testdata/sf0.001")),
                  table, os.path.join(root, "ckpt"))
assert icelite.read_snapshot(spark, table).count() > 0
import __spark_entry__ as e
assert e.entry(spark).count() > 0
print("VERIFY OK (crawl + streaming + entry)")
