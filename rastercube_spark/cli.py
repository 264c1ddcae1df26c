"""Command-line surface mirroring the reference's user scripts, so a
reference user's workflows have drop-in analogs:

| reference script | subcommand |
|---|---|
| worldgrid_info.py | ``info`` |
| create_ndvi_worldgrid.py (create + ingest) | ``create-cube`` |
| complete_ndvi_worldgrid.py (idempotent append) | ``append-cube`` |
| show_available_fractions.py / ndvi_hdf_stats.py | ``cube-stats`` |
| (tiff export, tiff.py:92-122) | ``export-tiff`` (bounded, driver-side) / ``export-tiles`` (executor-parallel per-fraction + stitch manifest) |
| worldgrid_fracs_to_shapefile.py | ``export-fracs`` |
| — | ``list-queries`` / ``run`` / ``explain`` (the query surface) |
| — | ``clean-corpus`` (training-data dedup + quality pipeline) |
| — | ``sample-corpus`` (deterministic mixture down/up-sampling) |
| — | ``corpus-overlap`` (snapshot-overlap audit; ``--anchor full|sampled|none`` scale policy) |
| — | ``source-overlap`` (cross-source passage-overlap matrix) |
| — | ``search`` (BM25 keyword top-k over the corpus) |

Usage: ``python -m rastercube_spark.cli <subcommand> ...``
"""

from __future__ import annotations

import argparse
import json
import sys


def _open_cube(root: str):
    from rastercube_spark.sources.raster import RasterCube

    try:
        return RasterCube.open(root)
    except FileNotFoundError:
        print(f"error: no cube at {root} (header.json missing)", file=sys.stderr)
        raise SystemExit(2)


def _spark():
    from rastercube_spark.session import get_spark

    s = get_spark("rastercube-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_list_queries(args) -> int:
    from rastercube_spark import registry

    qs, oracles = registry.queries(), registry.oracle_sql()
    for name in sorted(qs):
        mark = "oracle" if name in oracles else "rows-only"
        print(f"{name}\t{mark}")
    return 0


def cmd_run(args) -> int:
    from rastercube_spark import registry

    fn = registry.queries().get(args.query)
    if fn is None:
        print(f"error: unknown query '{args.query}' (see list-queries)", file=sys.stderr)
        return 2
    df = fn(_spark(), args.sf_dir)
    df.show(args.rows, truncate=False)
    return 0


def cmd_explain(args) -> int:
    from rastercube_spark import registry

    fn = registry.queries().get(args.query)
    if fn is None:
        print(f"error: unknown query '{args.query}' (see list-queries)", file=sys.stderr)
        return 2
    fn(_spark(), args.sf_dir).explain("formatted")
    return 0


def cmd_info(args) -> int:
    cube = _open_cube(args.root)
    h = cube.header
    print(
        json.dumps(
            {
                "root": args.root,
                "width": h.width,
                "height": h.height,
                "frac_width": h.frac_width,
                "frac_height": h.frac_height,
                "num_fracs": h.num_fracs,
                "ndates": h.ndates,
                "frac_ndates": h.frac_ndates,
                "num_time_chunks": h.num_dates_fracs,
                "dtype": h.dtype,
                "nodataval": h.nodataval,
                "value_col": h.value_col,
                "geot": list(h.geot),
            },
            indent=2,
        )
    )
    return 0


def _tile_codec(name: str):
    from rastercube_spark.sources import geotiff

    return {"npy": geotiff.npy_tile_codec, "geotiff": geotiff.geotiff_tile_codec}[name]


def cmd_create_cube(args) -> int:
    from rastercube_spark.sources.geotiff import ingest_tiles
    from rastercube_spark.sources.raster import CubeHeader, RasterCube

    header = CubeHeader(
        width=args.width,
        height=args.height,
        frac_width=args.frac_width,
        frac_height=args.frac_height,
        dtype=args.dtype,
        nodataval=args.nodata,
        frac_ndates=args.frac_ndates,
        timestamps_ms=[int(t) for t in args.timestamps.split(",")],
        geot=tuple(float(g) for g in args.geot.split(",")),
    )
    cube = RasterCube(args.root, header)
    ingest_tiles(_spark(), cube, args.tiles, codec=_tile_codec(args.codec))
    print(f"created cube at {args.root} ({header.num_fracs} fracs, "
          f"{header.ndates} dates)")
    return 0


def cmd_collect_dates(args) -> int:
    """≡ reference scripts/ndvi_collect_dates.py: scan a MODIS HDF tree,
    print the available dates for one tile (one ISO date per line,
    sorted), optionally writing them to a file — used to synchronize
    dates between worldgrids."""
    import datetime as dt
    import re as _re

    from pyspark.sql import functions as F

    from rastercube_spark.sources.catalog import list_files_df, parse_modis_paths

    parsed = parse_modis_paths(list_files_df(_spark(), args.src))
    m = _re.fullmatch(r"h(\d{2})v(\d{2})", args.tile)
    if not m:
        print(f"bad tile name: {args.tile} (expected hXXvYY)", file=sys.stderr)
        return 2
    sel = parsed.where(
        (F.col("tile_h") == int(m.group(1))) & (F.col("tile_v") == int(m.group(2)))
    )
    if args.satellite:
        product = {"terra": "MOD13Q1", "aqua": "MYD13Q1"}[args.satellite]
        sel = sel.where(F.col("product") == product)
    ts = [r["ts_ms"] for r in sel.select("ts_ms").distinct().orderBy("ts_ms").collect()]
    dates = [
        dt.datetime.fromtimestamp(t / 1000, tz=dt.timezone.utc).strftime("%Y-%m-%d")
        for t in ts
    ]
    for d in dates:
        print(d)
    print(f"{len(dates)} dates", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            f.write("\n".join(dates) + ("\n" if dates else ""))
    return 0 if dates else 1


def cmd_reload_fraction(args) -> int:
    """≡ reference scripts/reload_fraction_worldgrid.py:80-91 — re-source
    one damaged fraction from the original tile files."""
    from rastercube_spark.sources.geotiff import reload_fraction

    cube = _open_cube(args.root)
    reload_fraction(
        _spark(), cube, args.frac, args.tiles, codec=_tile_codec(args.codec)
    )
    print(f"reloaded fraction {args.frac} of {args.root}")
    return 0


def cmd_append_cube(args) -> int:
    import numpy as np

    cube = _open_cube(args.root)
    data = np.load(args.array)
    new_ts = [int(t) for t in args.timestamps.split(",")]
    written = cube.append_dates(_spark(), data, new_ts)
    print("appended" if written else "already applied (idempotent no-op)")
    return 0


def cmd_cube_stats(args) -> int:
    from pyspark.sql import functions as F

    cube = _open_cube(args.root)
    spark = _spark()
    df = cube.df(spark)
    per_chunk = (
        df.groupBy("time_chunk")
        .agg(F.count_distinct("frac_num").alias("n_fracs"), F.count("*").alias("n_px"))
        .orderBy("time_chunk")
        .collect()
    )
    total_fracs = cube.header.num_fracs
    print(f"{'chunk':>6} {'fracs':>12} {'pixels':>12}")
    for r in per_chunk:
        cov = f"{r['n_fracs']}/{total_fracs}"
        print(f"{r['time_chunk']:>6} {cov:>12} {r['n_px']:>12}")
    missing = total_fracs - max((r["n_fracs"] for r in per_chunk), default=0)
    print(f"absent fractions (sparse): {missing}")
    return 0


def cmd_export_fracs(args) -> int:
    """Fraction boundary polygons (in geo coords via the header's
    geotransform) → shapefile (≡ reference
    worldgrid_fracs_to_shapefile.py + shputils.py:65-111). Only fractions
    actually present in the store are exported (sparse grids)."""
    from rastercube_spark.sources.vector import write_shapefile

    cube = _open_cube(args.root)
    h = cube.header
    present = sorted(
        r["frac_num"]
        for r in cube.df(_spark()).select("frac_num").distinct().collect()
    )
    g = h.geot

    def geo(x, y):
        return (g[0] + x * g[1], g[3] + y * g[5])

    polys = {}
    for f in present:
        x1, x2, y1, y2 = h.frac_xyranges(f)
        ring = [geo(x1, y1), geo(x2, y1), geo(x2, y2), geo(x1, y2), geo(x1, y1)]
        polys[f"frac_{f}"] = ring
    base = args.out.removesuffix(".shp")
    write_shapefile(base, polys)
    print(f"wrote {base}.shp/.shx/.dbf ({len(polys)} fractions)")
    return 0


def cmd_clean_corpus(args) -> int:
    """Run the full corpus-cleaning pipeline (exact dedup -> near-dup
    clusters -> quality gate) and write the cleaned corpus as parquet."""
    import json as _json

    from rastercube_spark.operators.pipeline import clean_corpus
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    cleaned, report = clean_corpus(
        docs, min_quality=args.min_quality,
        chunk_tokens=args.chunk_tokens,
    )
    cleaned.write.mode("overwrite").parquet(args.out)
    print(_json.dumps(report))
    return 0


def cmd_regions(args) -> int:
    """List a region collection (or resolve one regspec to its ring) —
    the reference's first-use entry point (regions.py regspec format
    ``<collection>.<region>``)."""
    import json as _json

    from rastercube_spark.functions.regions import RegionCatalog

    cat = RegionCatalog()
    for path in args.geojson or []:
        cat.register_geojson(path)
    for base in args.shapefile or []:
        cat.register_shapefile(base)
    if args.region:
        try:
            ring = cat.polygon_for_region(args.region)
        except (KeyError, ValueError) as ex:
            # unknown collection/region (or none registered) is a user
            # error, not a traceback (ADVICE r05) — match the other
            # verbs' clean-exit contract
            msg = ex.args[0] if ex.args else str(ex)
            print(f"regions: {msg}", file=sys.stderr)
            return 2
        print(_json.dumps({"region": args.region, "ring": ring}))
        return 0
    out = {c: cat.region_names(c) for c in cat.collections()}
    print(_json.dumps(out))
    return 0


def cmd_query_region(args) -> int:
    """Zonal stats for a NAMED region over a cube — the reference's
    notebook one-liner (regions.py:119-130: polygon_for_region → mask →
    stats) as a CLI verb. Spark shape: windowed read over the ring's bbox
    (fractions outside it are never listed or read) → scanline mask
    (operators/polygon.py: one pushed-down filter) → engine-side
    aggregate; only the 5-number summary reaches the driver."""
    import json as _json
    import math

    from pyspark.sql import functions as F

    from rastercube_spark.functions.regions import RegionCatalog
    from rastercube_spark.operators.polygon import points_in_polygon

    cat = RegionCatalog()
    for path in args.geojson or []:
        cat.register_geojson(path)
    for base in args.shapefile or []:
        cat.register_shapefile(base)
    colname, _, regname = args.region.partition(".")
    try:
        ring = cat.polygon_for_region(args.region)  # validate regspec up front
    except (KeyError, ValueError) as ex:
        print(
            f"query-region: {ex.args[0] if ex.args else ex}", file=sys.stderr
        )
        return 2
    cube = _open_cube(args.root)
    spark = _spark()
    # ring bbox → end-exclusive pixel window, clamped to the grid
    h = cube.header
    xs, ys = [v[0] for v in ring], [v[1] for v in ring]
    x0 = min(max(0, math.floor(min(xs))), h.width)
    y0 = min(max(0, math.floor(min(ys))), h.height)
    x1 = max(min(h.width, math.ceil(max(xs)) + 1), x0)
    y1 = max(min(h.height, math.ceil(max(ys)) + 1), y0)
    t1 = None if args.t is None else args.t + 1
    px = cube.load_slice_xy(spark, (x0, y0), (x1, y1), args.t, t1)
    inside = points_in_polygon(px, cat.region_df(spark, colname), regname)
    vcol, nodata = h.value_col, h.nodataval
    valid = F.when(F.col(vcol) == nodata, None).otherwise(F.col(vcol))
    row = inside.agg(
        F.count("*").alias("n_px"),
        F.count(valid).alias("n_valid"),
        F.avg(valid).alias("mean"),
        F.min(valid).alias("vmin"),
        F.max(valid).alias("vmax"),
    ).collect()[0]
    print(
        _json.dumps(
            {
                "region": args.region,
                "t": args.t,
                "n_px": row["n_px"],
                "n_valid": row["n_valid"],
                "mean": None
                if row["mean"] is None
                else round(float(row["mean"]), 6),
                "min": row["vmin"],
                "max": row["vmax"],
            }
        )
    )
    return 0


def cmd_decontaminate(args) -> int:
    """Flag training documents sharing any word k-gram with an eval/
    benchmark parquet (columns doc_id, text); writes the flagged list."""
    import json as _json

    from rastercube_spark.operators.dedup import decontaminate
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    ev = spark.read.parquet(args.eval_set)
    flagged = decontaminate(docs, ev, k=args.k)
    flagged.write.mode("overwrite").parquet(args.out)
    n = flagged.count()
    print(_json.dumps({"contaminated_docs": n, "k": args.k}))
    return 0


def cmd_corpus_overlap(args) -> int:
    """Snapshot-overlap audit ("how much of B is already in A?") with
    the exact-anchor SCALE POLICY exposed (VERDICT r10 "Next round"
    #4): ``--anchor full`` replays the registered qd8 (exact Jaccard
    over all distinct shingles), ``--anchor sampled --anchor-rate r``
    shrinks the anchor's keyed shuffle to the hash-sampled shingle
    subspace (the petabyte-scale setting), ``--anchor none`` pays only
    the 16-number MinHash sketch. Prints the one-row report as JSON."""
    import json as _json

    from rastercube_spark.operators.dedup import corpus_overlap
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs_a = load(spark, args.sf_dir, "documents")
    docs_b = spark.read.parquet(args.other)
    try:
        row = corpus_overlap(
            docs_a,
            docs_b,
            k=args.k,
            anchor=None if args.anchor == "none" else args.anchor,
            anchor_rate=args.anchor_rate,
        ).collect()[0]
    except ValueError as ex:
        print(f"corpus-overlap: {ex}", file=sys.stderr)
        return 2
    print(_json.dumps(row.asDict(), sort_keys=True))
    return 0


def cmd_source_overlap(args) -> int:
    """Cross-source passage-overlap matrix (qe3's operator): which
    sources mirror which at 8-token passage granularity — run before
    mixture design, since two mirrored scrapes double-count in the
    sample-corpus weights. Prints one JSON line per source pair."""
    import json as _json

    from rastercube_spark.operators.dedup import cross_source_overlap
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    rows = (
        cross_source_overlap(docs, size=args.passage_tokens)
        .orderBy("src_a", "src_b")
        .collect()
    )
    for r in rows:
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_search(args) -> int:
    """BM25 keyword search over the documents table (qe5's operator,
    linear-idf determinism variant): the lexical leg of the search
    surface — contamination hunts and curation audits start here.
    Prints the top-k as JSON lines."""
    import json as _json

    from rastercube_spark.operators.text import bm25_topk
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    terms = tuple(sorted(set(t.lower() for t in args.terms)))
    for r in bm25_topk(docs, terms=terms, k=args.k).collect():
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_knn(args) -> int:
    """Approximate/exact kNN over the embeddings table — the embedding
    leg of the search surface next to ``search``'s BM25. ``--method``
    picks the regime the corpus size calls for: brute (exact, the
    recall oracle), ivf (probe nprobe trained lists), pq (ADC shortlist
    + exact refine, memory-bound), ivfpq (the composed 100 TB path —
    probe AND codes, qf0's operator). Query vectors are corpus rows
    named by --query-ids (the registered queries' convention). Prints
    (q_id, vec_id, score-or-cosine, rank) as JSON lines."""
    import json as _json

    from pyspark.sql import functions as F

    from rastercube_spark.operators.similarity import (
        brute_force_knn,
        ivf_knn,
        ivfpq_knn,
        ivfpq_probe,
        load_ann_index,
        pq_knn,
        train_ivf_centroids,
    )
    from rastercube_spark.sources.tables import load

    spark = _spark()
    emb = load(spark, args.sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    qs = emb.where(F.col("vec_id").isin(*args.query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    if args.method == "brute":
        out = brute_force_knn(qs, emb, k=args.k)
    elif args.method == "ivf":
        cents = train_ivf_centroids(emb, dim=dim, n_cents=16, n_iters=3)
        out = ivf_knn(qs, emb, dim=dim, k=args.k, n_cents=16,
                      nprobe=args.nprobe, cents=cents)
    elif args.method == "pq":
        out = pq_knn(qs, emb, dim=dim, k=args.k)
    elif args.method == "ivfpq-index":
        if not args.index:
            print("--index PATH required for ivfpq-index", file=sys.stderr)
            return 2
        enc, meta = load_ann_index(spark, args.index)
        # the index records which embeddings columns it was built over
        # (ADVICE r13: an index built via the API with non-default
        # column names must probe those columns, not the defaults);
        # refuse loudly if this embeddings table doesn't carry them
        c_id = meta.get("c_id", "vec_id")
        c_vec = meta.get("c_vec", "embedding")
        missing = [c for c in (c_id, c_vec) if c not in emb.columns]
        if missing:
            print(
                f"index at {args.index} was built over columns "
                f"({c_id!r}, {c_vec!r}) but the embeddings table lacks "
                f"{missing} — wrong index for this table?",
                file=sys.stderr,
            )
            return 2
        out = ivfpq_probe(
            qs, enc, emb, meta["coarse_cents"],
            (meta["pq_sums"], meta["pq_cnts"]), dim=meta["dim"],
            k=args.k, nprobe=args.nprobe, m=meta["m"],
            n_cents=meta["n_cents"], c_id=c_id, c_vec=c_vec,
        )
    else:  # ivfpq
        out = ivfpq_knn(qs, emb, dim=dim, k=args.k, nprobe=args.nprobe)
    for r in out.orderBy("q_id", "rank").collect():
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_build_ann_index(args) -> int:
    """Materialize the IVF×PQ index for the embeddings table (VERDICT
    r12 "Next round" #3 — qf0's own 100 TB contract is "train once,
    encode (cid, codes) at ingest, persist partitioned by cid"): train
    both quantizers on the bounded sample, encode the corpus in one
    map-only pass, write the codes parquet PARTITIONED BY cid plus the
    quantizers as index.json. ``knn --method ivfpq-index --index PATH``
    then probes the persisted index — bit-identical to the inline path
    (tests/test_similarity.py), with the broadcast probe join
    dynamic-partition-pruning to the nprobe probed lists."""
    import json as _json

    from rastercube_spark.operators.similarity import save_ann_index
    from rastercube_spark.sources.tables import load

    spark = _spark()
    emb = load(spark, args.sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    meta = save_ann_index(
        emb, args.out, dim=dim, n_coarse=args.n_coarse, m=args.m,
        n_cents=args.n_cents, store_vectors=args.store_vectors,
    )
    print(_json.dumps({
        "out": args.out, "dim": meta["dim"], "n_coarse": meta["n_coarse"],
        "m": meta["m"], "n_cents": meta["n_cents"],
        "n_vectors": spark.read.parquet(
            args.out + "/codes"
        ).count(),
    }, sort_keys=True))
    return 0


def cmd_dup_rate(args) -> int:
    """Sampled-pair duplicate-rate estimate over the documents table
    (qf9's operator): the linear-cost "how duplicated is this crawl"
    number a curation run reads before paying for a full dedup pass.
    Prints one JSON line per threshold."""
    import json as _json

    from rastercube_spark.operators.dedup import sampled_pair_dup_rate
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    thresholds = tuple(sorted(set(args.threshold or (0.5, 0.8))))
    rows = sampled_pair_dup_rate(
        docs,
        docs_per_bucket=args.docs_per_bucket,
        thresholds=thresholds,
    ).collect()
    for r in rows:
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_repeated_spans(args) -> int:
    """Exact repeated-substring audit (qf7's operator): the documents
    with the largest fraction of their tokens covered by corpus-repeated
    word k-grams, merged into maximal spans. Prints JSON lines, worst
    offenders first."""
    import json as _json

    from rastercube_spark.operators.dedup import repeated_spans
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    out = repeated_spans(
        docs, k=args.k, min_count=args.min_count, k_out=args.top
    )
    for r in out.collect():
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_langid_confusion(args) -> int:
    """Corpus-learned character-trigram language-ID audit (qg2's
    operator): learn per-language trigram profiles from the corpus's own
    lang labels, predict every document, print the (label, prediction,
    n_docs) confusion matrix as JSON lines — the mislabel/mixed-language
    report a mixture designer reads before trusting the lang column."""
    import json as _json

    from rastercube_spark.operators.text import char_langid
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    out = char_langid(docs, profile_size=args.profile_size)
    for r in out.collect():
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_template_prefixes(args) -> int:
    """Per-source repeated document prefixes (qg3's operator): crawler/
    template scaffold detection at the document opening. Prints JSON
    lines, most-repeated first."""
    import json as _json

    from rastercube_spark.operators.text import template_prefixes
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    out = template_prefixes(
        docs, k_tokens=args.k_tokens, min_docs=args.min_docs,
        k_out=args.top,
    )
    for r in out.collect():
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_dup_matrix(args) -> int:
    """Near-duplicate document-pair matrix by source pair (qg4's
    operator): LSH candidates verified at exact Jaccard >= threshold,
    attributed to (source, source) cells — mirror detection. Prints
    JSON lines, largest cells first."""
    import json as _json

    from rastercube_spark.operators.dedup import source_dup_matrix
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    out = source_dup_matrix(docs, threshold=args.threshold)
    for r in out.collect():
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_budget_select(args) -> int:
    """Per-source token-budget selection (qf8's operator): fill each
    source's token budget with its highest-quality documents
    (stopword-density score) without ever sorting a source end-to-end.
    Prints one JSON summary line per source."""
    import json as _json

    from rastercube_spark.operators.sampling import token_budget_select
    from rastercube_spark.operators.text import LANG_MARKERS
    from rastercube_spark.sources.tables import load

    if args.lang not in LANG_MARKERS:
        print(f"unknown lang {args.lang!r}; have {sorted(LANG_MARKERS)}",
              file=sys.stderr)
        return 2
    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    rows = token_budget_select(
        docs, LANG_MARKERS[args.lang], budget_tokens=args.budget
    ).collect()
    for r in rows:
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_semantic_decontaminate(args) -> int:
    """Embedding-space eval-set decontamination (qg0's operator): max
    cosine of every training vector against the benchmark vectors —
    the paraphrase/translation-robust leak check. The eval side is the
    embeddings rows with vec_id < --eval-below (qb1/qd4's id-split
    convention), or an external parquet of (vec_id, embedding) via
    --eval-set. Prints the top-k closest as JSON lines."""
    import json as _json

    from pyspark.sql import functions as F

    from rastercube_spark.operators.similarity import semantic_decontaminate
    from rastercube_spark.sources.tables import load

    spark = _spark()
    emb = load(spark, args.sf_dir, "embeddings")
    if args.eval_set:
        eval_df = spark.read.parquet(args.eval_set)
        corpus = emb
    else:
        eval_df = emb.where(F.col("vec_id") < args.eval_below)
        corpus = emb.where(F.col("vec_id") >= args.eval_below)
    rows = semantic_decontaminate(
        corpus, eval_df, threshold=args.threshold, k_out=args.top
    ).collect()
    for r in rows:
        print(_json.dumps(r.asDict(), sort_keys=True))
    return 0


def cmd_sample_corpus(args) -> int:
    """Apply a mixture spec (JSON: source → weight) to the documents
    table with DETERMINISTIC hash sampling — weight < 1 downsamples
    (keep that fraction), weight > 1 upsamples (floor(w) replicas plus
    a hash-selected frac(w) share); reruns emit identical rows. Writes
    the sampled corpus (with a ``copy`` replica index) and prints
    per-source counts."""
    import json as _json
    import math

    from pyspark.sql import functions as F

    from rastercube_spark.operators.sampling import (
        mixture_upsample,
        rate_to_hex_threshold,
    )
    from rastercube_spark.sources.tables import load

    spark = _spark()
    docs = load(spark, args.sf_dir, "documents")
    try:
        with open(args.spec) as f:
            spec = _json.load(f)
        rows = [
            (s, int(math.floor(float(w))),
             rate_to_hex_threshold(float(w) - math.floor(float(w))))
            for s, w in spec.items()
        ]
    except (OSError, ValueError, AttributeError) as ex:
        print(f"sample-corpus: bad spec {args.spec}: {ex}", file=sys.stderr)
        return 2
    weights = spark.createDataFrame(
        rows, "source string, n_base int, thr string"
    )
    out = mixture_upsample(docs, weights)
    out.write.mode("overwrite").parquet(args.out)
    per = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    print(_json.dumps(
        {"input": docs.count(), "output": sum(per.values()),
         "per_source": per},
        sort_keys=True,
    ))
    return 0


def cmd_download_modis(args) -> int:
    """Acquire missing MODIS HDF files from an archive (reference
    ndvi_hdf_download.py): mirror per-date listings, diff against the
    local per-year tree, download atomically. Works against file:// test
    archives and (with --user/--password) Earthdata-authenticated HTTPS."""
    import json as _json

    from rastercube_spark.sources.acquire import sync_archive

    tiles = set(args.tile) if args.tile else None
    rep = sync_archive(
        args.base_url,
        args.mirror_dir,
        args.hdf_dir,
        tiles=tiles,
        user=args.user,
        password=args.password,
    )
    print(_json.dumps(rep))
    return 0


def cmd_export_tiff(args) -> int:
    from rastercube_spark.sources.geotiff import export_geotiff

    cube = _open_cube(args.root)
    x0, y0, x1, y1 = (int(v) for v in args.window.split(","))
    export_geotiff(
        _spark(), cube, args.out, (x0, y0), (x1, y1), args.t,
        compress=None if args.compress == "none" else args.compress,
    )
    print(f"wrote {args.out}")
    return 0


def cmd_export_tiles(args) -> int:
    """Executor-parallel one-tile-per-fraction export + stitch manifest
    (large windows; export-tiff stays the bounded driver-side path)."""
    import json as _json

    from rastercube_spark.sources.geotiff import export_geotiff_tiles

    cube = _open_cube(args.root)
    if args.window:
        x0, y0, x1, y1 = (int(v) for v in args.window.split(","))
        xy_from, xy_to = (x0, y0), (x1, y1)
    else:
        xy_from = xy_to = None
    man = export_geotiff_tiles(
        _spark(), cube, args.out, xy_from, xy_to, t=args.t,
        compress=None if args.compress == "none" else args.compress,
    )
    print(_json.dumps({"tiles": len(man["tiles"]), "out": args.out}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rastercube_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list-queries").set_defaults(fn=cmd_list_queries)

    run = sub.add_parser("run")
    run.add_argument("query")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run.add_argument("--rows", type=int, default=20)
    run.set_defaults(fn=cmd_run)

    ex = sub.add_parser("explain")
    ex.add_argument("query")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.set_defaults(fn=cmd_explain)

    info = sub.add_parser("info")
    info.add_argument("root")
    info.set_defaults(fn=cmd_info)

    cc = sub.add_parser("create-cube")
    cc.add_argument("--root", required=True)
    cc.add_argument("--tiles", required=True, help="glob of tile files")
    cc.add_argument("--width", type=int, required=True)
    cc.add_argument("--height", type=int, required=True)
    cc.add_argument("--frac-width", type=int, default=20)
    cc.add_argument("--frac-height", type=int, default=20)
    cc.add_argument("--frac-ndates", type=int, default=5)
    cc.add_argument("--dtype", default="int16")
    cc.add_argument("--nodata", type=float, default=None)
    cc.add_argument("--timestamps", required=True, help="comma-sep epoch ms")
    cc.add_argument(
        "--geot",
        default="0,1,0,0,0,-1",
        help="6 comma-sep affine terms; use --geot=-500,... for values "
        "starting with '-' (argparse quirk)",
    )
    cc.add_argument("--codec", choices=["npy", "geotiff"], default="npy")
    cc.set_defaults(fn=cmd_create_cube)

    cd = sub.add_parser("collect-dates")
    cd.add_argument("--src", required=True, help="HDF directory or glob")
    cd.add_argument("--tile", required=True, help="tile name, e.g. h10v09")
    cd.add_argument("--satellite", choices=["terra", "aqua"], default=None)
    cd.add_argument("--out", default=None, help="optional output file")
    cd.set_defaults(fn=cmd_collect_dates)

    rf = sub.add_parser("reload-fraction")
    rf.add_argument("--root", required=True)
    rf.add_argument("--frac", type=int, required=True)
    rf.add_argument("--tiles", required=True, help="glob of source tile files")
    rf.add_argument("--codec", choices=["npy", "geotiff"], default="npy")
    rf.set_defaults(fn=cmd_reload_fraction)

    ac = sub.add_parser("append-cube")
    ac.add_argument("--root", required=True)
    ac.add_argument("--array", required=True, help=".npy HxWxK array of new dates")
    ac.add_argument("--timestamps", required=True)
    ac.set_defaults(fn=cmd_append_cube)

    cs = sub.add_parser("cube-stats")
    cs.add_argument("root")
    cs.set_defaults(fn=cmd_cube_stats)

    et = sub.add_parser("export-tiff")
    et.add_argument("--root", required=True)
    et.add_argument("--out", required=True)
    et.add_argument("--window", required=True, help="x0,y0,x1,y1 (end-exclusive)")
    et.add_argument("--t", type=int, default=0)
    et.add_argument(
        "--compress", choices=["deflate", "none"], default="deflate",
        help="TIFF compression (reference sink parity: DEFLATE)",
    )
    et.set_defaults(fn=cmd_export_tiff)

    ets = sub.add_parser("export-tiles")
    ets.add_argument("--root", required=True)
    ets.add_argument("--out", required=True, help="output directory")
    ets.add_argument(
        "--window", help="x0,y0,x1,y1 (end-exclusive); omit for whole grid"
    )
    ets.add_argument("--t", type=int, default=0)
    ets.add_argument(
        "--compress", choices=["deflate", "none"], default="deflate",
        help="TIFF compression (recorded in the stitch manifest)",
    )
    ets.set_defaults(fn=cmd_export_tiles)

    cl = sub.add_parser("clean-corpus")
    cl.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cl.add_argument("--out", required=True)
    cl.add_argument("--min-quality", type=float, default=0.3)
    cl.add_argument("--chunk-tokens", type=int, default=None,
                    help="when set, write TRAINING SEQUENCES (qg1 "
                         "fixed-window chunks) instead of documents")
    cl.set_defaults(fn=cmd_clean_corpus)

    ef = sub.add_parser("export-fracs")
    ef.add_argument("--root", required=True)
    ef.add_argument("--out", required=True, help="output .shp path")
    ef.set_defaults(fn=cmd_export_fracs)

    dc = sub.add_parser("decontaminate")
    dc.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    dc.add_argument("--eval-set", required=True, help="parquet: doc_id, text")
    dc.add_argument("--out", required=True)
    dc.add_argument("--k", type=int, default=5)
    dc.set_defaults(fn=cmd_decontaminate)

    co = sub.add_parser("corpus-overlap")
    co.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    co.add_argument("--other", required=True,
                    help="parquet of the other snapshot (doc_id, text)")
    co.add_argument("--anchor", choices=["full", "sampled", "none"],
                    default="full",
                    help="exact-anchor policy: full replays qd8; sampled "
                         "shrinks the anchor shuffle to a hash-sampled "
                         "shingle subspace; none pays only the sketch")
    co.add_argument("--anchor-rate", type=float, default=0.05,
                    help="shingle-space keep rate for --anchor sampled")
    co.add_argument("--k", type=int, default=3)
    co.set_defaults(fn=cmd_corpus_overlap)

    so = sub.add_parser("source-overlap")
    so.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    so.add_argument("--passage-tokens", type=int, default=8)
    so.set_defaults(fn=cmd_source_overlap)

    se = sub.add_parser("search")
    se.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    se.add_argument("--terms", nargs="+", required=True,
                    help="query terms (lowercased, deduped, sorted)")
    se.add_argument("--k", type=int, default=20)
    se.set_defaults(fn=cmd_search)

    kn = sub.add_parser("knn")
    kn.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    kn.add_argument("--query-ids", nargs="+", type=int, required=True,
                    help="embeddings vec_ids to use as query vectors")
    kn.add_argument("--k", type=int, default=10)
    kn.add_argument("--method", default="ivfpq",
                    choices=("brute", "ivf", "pq", "ivfpq", "ivfpq-index"))
    kn.add_argument("--nprobe", type=int, default=8)
    kn.add_argument("--index", default=None,
                    help="path of a build-ann-index output "
                         "(required for --method ivfpq-index)")
    kn.set_defaults(fn=cmd_knn)

    bai = sub.add_parser("build-ann-index")
    bai.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    bai.add_argument("--out", required=True,
                     help="output dir: codes/ parquet partitioned by "
                          "cid + index.json quantizers")
    bai.add_argument("--n-coarse", type=int, default=16)
    bai.add_argument("--m", type=int, default=16)
    bai.add_argument("--n-cents", type=int, default=32)
    bai.add_argument("--store-vectors", action="store_true",
                     help="also carry the raw vectors into the codes "
                          "relation (needed by corpus-as-queries "
                          "consumers: knn-graph audits score with "
                          "exact vectors)")
    bai.set_defaults(fn=cmd_build_ann_index)

    dr = sub.add_parser("dup-rate")
    dr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    dr.add_argument("--docs-per-bucket", type=int, default=8,
                    help="expected bucket size; pairs ≈ (m-1)/2 per doc")
    dr.add_argument("--threshold", type=float, action="append",
                    default=None, help="Jaccard threshold(s); repeatable")
    dr.set_defaults(fn=cmd_dup_rate)

    rs = sub.add_parser("repeated-spans")
    rs.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rs.add_argument("--k", type=int, default=5, help="gram width (tokens)")
    rs.add_argument("--min-count", type=int, default=2,
                    help="corpus occurrences for a gram to count as repeated")
    rs.add_argument("--top", type=int, default=100)
    rs.set_defaults(fn=cmd_repeated_spans)

    lc = sub.add_parser("langid-confusion")
    lc.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    lc.add_argument("--profile-size", type=int, default=50,
                    help="trigrams per language profile")
    lc.set_defaults(fn=cmd_langid_confusion)

    tp = sub.add_parser("template-prefixes")
    tp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    tp.add_argument("--k-tokens", type=int, default=8,
                    help="prefix width (tokens)")
    tp.add_argument("--min-docs", type=int, default=2,
                    help="docs sharing a prefix for it to count")
    tp.add_argument("--top", type=int, default=50)
    tp.set_defaults(fn=cmd_template_prefixes)

    dm = sub.add_parser("dup-matrix")
    dm.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    dm.add_argument("--threshold", type=float, default=0.5,
                    help="exact-Jaccard verify threshold")
    dm.set_defaults(fn=cmd_dup_matrix)

    bs = sub.add_parser("budget-select")
    bs.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    bs.add_argument("--budget", type=int, default=600,
                    help="token budget per source")
    bs.add_argument("--lang", default="en",
                    help="stopword list for the quality score")
    bs.set_defaults(fn=cmd_budget_select)

    sd = sub.add_parser("semantic-decontaminate")
    sd.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sd.add_argument("--eval-set", default=None,
                    help="parquet of (vec_id, embedding); default: "
                         "embeddings rows below --eval-below")
    sd.add_argument("--eval-below", type=int, default=20)
    sd.add_argument("--threshold", type=float, default=0.8)
    sd.add_argument("--top", type=int, default=100)
    sd.set_defaults(fn=cmd_semantic_decontaminate)

    sc = sub.add_parser("sample-corpus")
    sc.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sc.add_argument("--spec", required=True,
                    help="JSON file: {source: weight}; <1 down, >1 up")
    sc.add_argument("--out", required=True)
    sc.set_defaults(fn=cmd_sample_corpus)

    dm = sub.add_parser("download-modis")
    dm.add_argument("--base-url", required=True, help="archive dir URL")
    dm.add_argument("--mirror-dir", required=True)
    dm.add_argument("--hdf-dir", required=True)
    dm.add_argument("--tile", action="append", help="restrict to tile(s)")
    dm.add_argument("--user", default=None)
    dm.add_argument("--password", default=None)
    dm.set_defaults(fn=cmd_download_modis)

    rg = sub.add_parser("regions")
    rg.add_argument("--geojson", action="append", help="geojson collection(s)")
    rg.add_argument(
        "--shapefile", action="append", help="shapefile base path(s)"
    )
    rg.add_argument(
        "--region", help="resolve one <collection>.<region> spec to its ring"
    )
    rg.set_defaults(fn=cmd_regions)

    qr = sub.add_parser("query-region")
    qr.add_argument("--root", required=True, help="cube root")
    qr.add_argument(
        "--region", required=True, help="<collection>.<region> spec"
    )
    qr.add_argument("--geojson", action="append", help="geojson collection(s)")
    qr.add_argument(
        "--shapefile", action="append", help="shapefile base path(s)"
    )
    qr.add_argument(
        "--t", type=int, default=None, help="restrict to one time index"
    )
    qr.set_defaults(fn=cmd_query_region)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
