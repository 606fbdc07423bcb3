"""The benchmark's workloads: which registered queries one pass runs, on
which tables under perfbench/data, how many untimed warm-up passes come
after the check pass, and the fewest measured passes a run makes.

`setup_probes` is the number of bare cold JVM set-ups a run times besides
its own. The set-up path (session, extensions, registry) is the same for
every workload, so `flwor`, the shorter one, samples it three times a run
and `curation` once, which keeps a curation run near a minute.

`ops` run on the tables as they are. `build_ops` run, in every pass, on a
fresh byte copy of the tables under the artifact root, so each of their
runs misses the artifact caches and builds its artifacts anew.

Each op set is a cut of the family it stands for, sized so that one run
(cold JVM set-ups, a cold pass, the check pass, warm-up, measured passes
and the oracle check) takes about a minute on a 4-core box, and its
measured window holds at least 20 op latencies.
"""

# pythonql's own surface: one query each from Relational, WindowQueries,
# MatchQueries, PathQueries and EventsQueries. Few distinct ops, each run
# often: a fresh JVM settles sooner when the same plans repeat.
FLWOR = [
    "q01_pricing_summary", "q30_xwindow_tumbling", "q32_match",
    "q34_child_path", "q23_sessionize",
]

# an LLM-data pipeline at sf0.1 (MinHash near-dup), a warm BPE-merges
# artifact probe, and an IVF index build on each pass's fresh snapshot
CURATION = ["q25_minhash_neardup", "q86_bpe_encode"]
CURATION_BUILDS = ["q191_ivf_cdc"]

WORKLOADS = {
    "flwor": {"data": "sf0.01", "setup_probes": 2, "ops": FLWOR,
              "build_ops": [],
              "warmup_passes": 2, "min_passes": 4},
    "curation": {"data": "sf0.1", "setup_probes": 0, "ops": CURATION,
                 "build_ops": CURATION_BUILDS, "warmup_passes": 0,
                 "min_passes": 7},
}
