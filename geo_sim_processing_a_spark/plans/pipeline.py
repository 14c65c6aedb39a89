"""The flagship pipeline (SURVEY.md §3.3):

  SCAN pages → PREP (text extract P9, dedup, geocode P10)
  → TILE (cell encode X6, halo cover X7) → SALT (X11)
  → KERNEL (repartition(cell, salt).mapInPandas(reduce_bend | dp | vw))
  → CHECKPOINT (output parquet + lineage manifest S7) → RESUME

All geometry math is inside Arrow-batched kernels; everything else is
whole-stage-codegen Spark SQL.  The kernel stage shuffles exactly once:
one hash repartition on (cell, salt) puts every tile wholly in one
partition, and mapInPandas carves the sorted partition into tiles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.epsilon import Epsilon
from ..kernels import reduce_bend as RBK
from ..kernels.simplify import simplify_feature
from ..operators import cells as C
from ..operators.tiling import salt_by_cell, with_cell_cover
from ..sources import manifest as MF
from ..sources.pages import extract_text_series, synthesize_geoms_pdf

# Columnar multi-ring geometry (SURVEY.md §1.2): xs/ys are the
# flat-concatenated ring coordinates, ring_offsets the start index of
# each ring (exterior first) — the Spark twin of the reference's
# polygon-as-ring-list (reduce_bend_algorithm.py:322-335).
GEOM_SCHEMA = ("url string, h long, kind tinyint, xs array<double>, "
               "ys array<double>, ring_offsets array<int>")
KERNEL_OUT_SCHEMA = ("cell long, url string, kind tinyint, "
                     "xs array<double>, ys array<double>, ring_offsets array<int>, "
                     "n_in int, n_out int, n_pass int, n_bend_reduced int, "
                     "n_line_smooth int, n_hole_del int, n_pol_del int, salt int")

# Epsilon for the geo pipeline is fixed from the global lon/lat domain
# (one R1-style agg would give the same value for any full-domain run;
# pinning it keeps every tile's kernel arithmetic identical, which the
# vertex-sequence parity requires).
WORLD_EPS = Epsilon((-180.0, -90.0, 180.0, 90.0))


# ---------------------------------------------------------------------------
# PREP: normalization, text extraction + geometry synthesis
# ---------------------------------------------------------------------------

def normalize_geoms(geoms: DataFrame, validate: bool = True) -> DataFrame:
    """P2 — Z/M normalization (true parity with the reference's ingest,
    reduce_bend_algorithm.py:1110-1122 'Drop Z M processing' and its
    unittest case 32): a geometry frame may carry per-vertex ``zs`` /
    ``ms`` arrays (3-D / measured input); the engine is 2-D by
    construction, so normalization accepts them, checks they are
    parallel to ``xs`` (per-row JVM assert, no UDF), and DROPS them.
    Frames without zs/ms pass through unchanged."""
    out = geoms
    for c in ("zs", "ms"):
        if c in geoms.columns:
            if validate:
                ok = F.col(c).isNull() | (F.size(c) == F.size("xs"))
                msg = F.concat(
                    F.lit(f"normalize_geoms: {c} arity != xs arity for url="),
                    F.col("url"))
                # inside a filter so column pruning cannot eliminate it;
                # assert_true yields NULL on success -> coalesce(True)
                out = out.where(F.coalesce(F.assert_true(ok, msg), F.lit(True)))
            out = out.drop(c)
    return out

def extracted_text_parity(pages: DataFrame) -> DataFrame:
    """P9 — recompute text from html in a pandas UDF and compare to the
    stored column; returns (url, ok). Byte-identity is asserted in
    tests and checked by count in the pipeline."""
    @F.pandas_udf("string")
    def extract_udf(html: pd.Series) -> pd.Series:
        return extract_text_series(html)

    return pages.select("url",
                        (extract_udf("html") == F.col("text")).alias("ok"))


def pages_to_geoms(pages: DataFrame) -> DataFrame:
    """P10 — geocode pages into multi-ring geometry rows (points,
    footprint polygons for pmod(h,7)==0 — holed when pmod(h,21)==0 —
    and trace polylines for pmod(h,3)==0).

    h is computed JVM-side (xxhash64 of the doc id parsed from the
    url) so Catalyst prunes/pushes around it; the geometry synthesis is
    one batch-vectorized Arrow kernel (sources/pages.py)."""
    with_h = (pages
              .withColumn("doc_id", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"))
              .withColumn("h", F.xxhash64("doc_id"))
              # Spark cannot column-prune INTO mapInPandas: without this
              # select the corpus's biggest columns (html, text) would
              # round-trip JVM->Arrow->Python just to be dropped
              .select("url", "h"))

    def gen(batches):
        for pdf in batches:
            yield synthesize_geoms_pdf(pdf["url"].to_numpy(), pdf["h"].to_numpy())

    return with_h.mapInPandas(gen, GEOM_SCHEMA)


def pages_to_covered_geoms(pages: DataFrame, res: int) -> DataFrame:
    """Fused P10 + X7: geometry synthesis AND halo cell cover in ONE
    Arrow stage.  Chaining two mapInPandas stages inside one task runs
    two Python workers per core (measured 3-10x wall regression at
    local[32] from the oversubscription); fusing keeps exactly one
    Python worker per task and halves the Arrow transport."""
    from ..operators.tiling import _cover_batch

    with_h = (pages
              .withColumn("doc_id", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"))
              .withColumn("h", F.xxhash64("doc_id"))
              # prune BEFORE the Arrow boundary (see pages_to_geoms)
              .select("url", "h"))

    def gen(batches):
        for pdf in batches:
            geoms = synthesize_geoms_pdf(pdf["url"].to_numpy(), pdf["h"].to_numpy())
            yield _cover_batch(geoms, res)

    return with_h.mapInPandas(gen, GEOM_SCHEMA + ", cell long, is_owner boolean")


# ---------------------------------------------------------------------------
# KERNEL: per-tile simplification
# ---------------------------------------------------------------------------

from ..geom.primitives import split_rings as _split_rings  # shared decoder


def _flatten_rings(rings: list):
    """list of (n,2) ring arrays -> (xs list, ys list, offsets list)."""
    xs = np.concatenate([r[:, 0] for r in rings])
    ys = np.concatenate([r[:, 1] for r in rings])
    lens = [len(r) for r in rings]
    offs = [0]
    for ln in lens[:-1]:
        offs.append(offs[-1] + ln)
    return xs.tolist(), ys.tolist(), offs


def _reduce_bend_tile(cell, urls, kinds, xs, ys, offsets, owners,
                      diameter_tol: float, smooth: bool, out: dict,
                      epsilon=WORLD_EPS, flag_del_outer: bool = False,
                      flag_del_inner: bool = False) -> None:
    """One (cell, salt) tile over pre-extracted column slices: run
    Sherbend over owned + halo features (multi-ring polygons included,
    matching the reference's RbPolygon ring list,
    reduce_bend_algorithm.py:322-335), append owned results to ``out``.
    Caller guarantees deterministic (url, kind) order.
    ``epsilon=None`` derives the reference's data-dependent epsilon
    from the tile's own bbox (used by the golden-parity Spark tests);
    the pipeline pins WORLD_EPS so all tiles share one epsilon.
    Features deleted by flag_del_outer (reference :1638-1662) are
    matched back by the index carried in Feature.attrs."""
    feats = []
    for i in range(len(urls)):
        x = np.asarray(xs[i])
        y = np.asarray(ys[i])
        rings = _split_rings(x, y, offsets[i])
        feats.append(RBK.Feature(int(kinds[i]), rings, attrs=i))
    res = RBK.reduce_bends(feats, diameter_tol, smooth_line=smooth, epsilon=epsilon,
                           flag_del_outer=flag_del_outer, flag_del_inner=flag_del_inner)
    n_reduced = int(sum(res.nbr_bend_reduced))
    for fout in res.features:
        i = fout.attrs
        if not owners[i]:
            continue
        fxs, fys, foffs = _flatten_rings(fout.rings)
        out["cell"].append(cell)
        out["url"].append(urls[i])
        out["kind"].append(int(kinds[i]))
        out["xs"].append(fxs)
        out["ys"].append(fys)
        out["ring_offsets"].append(foffs)
        out["n_in"].append(int(len(xs[i])))
        out["n_out"].append(int(len(fxs)))
        out["n_pass"].append(res.nbr_pass)
        out["n_bend_reduced"].append(n_reduced)
        out["n_line_smooth"].append(int(res.nbr_line_smooth))
        out["n_hole_del"].append(int(res.nbr_hole_del))
        out["n_pol_del"].append(int(res.nbr_pol_del))


def _dp_tile(cell, urls, kinds, xs, ys, offsets, owners,
             tolerance: float, method: str, out: dict) -> None:
    """Independent-feature simplification over one tile's slices:
    the full reference Simplifier semantics (simplify_algorithm.py) —
    lines AND polygon rings simplified per-ring with the
    topology-preserving variants, then the invalid-polygon repair pass
    (escaped interior rings dropped, counted in n_hole_del)."""
    for i in range(len(urls)):
        if not owners[i]:
            continue
        x = np.asarray(xs[i])
        y = np.asarray(ys[i])
        rings = _split_rings(x, y, offsets[i])
        simp, holes_del = simplify_feature(rings, int(kinds[i]), tolerance,
                                           method=method)
        fxs, fys, foffs = _flatten_rings(simp)
        out["cell"].append(cell)
        out["url"].append(urls[i])
        out["kind"].append(int(kinds[i]))
        out["xs"].append(fxs)
        out["ys"].append(fys)
        out["ring_offsets"].append(foffs)
        out["n_in"].append(int(len(x)))
        out["n_out"].append(int(len(fxs)))
        out["n_hole_del"].append(int(holes_del))


_OUT_COLS = ("cell", "url", "kind", "xs", "ys", "ring_offsets", "n_in",
             "n_out", "n_pass", "n_bend_reduced", "n_line_smooth",
             "n_hole_del", "n_pol_del", "salt")


def _kernel_out_pdf(out: dict) -> pd.DataFrame:
    """Typed empty-safe kernel output (Arrow needs object dtype for the
    array columns even when a (cell,salt) group owns nothing)."""
    n = len(out["cell"])
    zeros = [0] * n
    return pd.DataFrame({
        "cell": pd.Series(out["cell"], dtype="int64"),
        "url": pd.Series(out["url"], dtype="object"),
        "kind": pd.Series(out["kind"], dtype="int8"),
        "xs": pd.Series(out["xs"], dtype="object"),
        "ys": pd.Series(out["ys"], dtype="object"),
        "ring_offsets": pd.Series(out["ring_offsets"], dtype="object"),
        "n_in": pd.Series(out["n_in"], dtype="int32"),
        "n_out": pd.Series(out["n_out"], dtype="int32"),
        "n_pass": pd.Series(out.get("n_pass") or zeros, dtype="int32"),
        "n_bend_reduced": pd.Series(out.get("n_bend_reduced") or zeros, dtype="int32"),
        "n_line_smooth": pd.Series(out.get("n_line_smooth") or zeros, dtype="int32"),
        "n_hole_del": pd.Series(out.get("n_hole_del") or zeros, dtype="int32"),
        "n_pol_del": pd.Series(out.get("n_pol_del") or zeros, dtype="int32"),
        "salt": pd.Series(out.get("salt") or zeros, dtype="int32"),
    })


def _run_bucket(pdf: pd.DataFrame, tile_fn) -> pd.DataFrame:
    """Run ``tile_fn`` over each (cell, salt) tile of one bucket.
    Pandas work happens ONCE per bucket (sort + column extraction);
    tiles are numpy slices — per-tile overhead measured ~6 ms when
    done with per-tile DataFrames, ~0.1 ms this way."""
    out = {c: [] for c in _OUT_COLS}
    if len(pdf) == 0:
        return _kernel_out_pdf(out)
    has_salt = "salt" in pdf.columns
    sort_cols = ["cell", "salt", "url", "kind"] if has_salt else ["cell", "url", "kind"]
    pdf = pdf.sort_values(sort_cols, kind="mergesort")
    cells = pdf["cell"].to_numpy()
    salts = pdf["salt"].to_numpy() if has_salt else np.zeros(len(pdf), dtype=np.int64)
    urls = pdf["url"].to_numpy()
    kinds = pdf["kind"].to_numpy()
    xs = pdf["xs"].to_numpy()
    ys = pdf["ys"].to_numpy()
    if "ring_offsets" in pdf.columns:
        offsets = pdf["ring_offsets"].to_numpy()
    else:  # single-ring callers (golden tests, ad-hoc frames)
        offsets = np.full(len(pdf), None, dtype=object)
        offsets[:] = [[0]] * len(pdf)
    owners = pdf["is_owner"].to_numpy()
    # tile boundaries on the sorted (cell, salt) pairs
    change = np.flatnonzero((cells[1:] != cells[:-1]) | (salts[1:] != salts[:-1])) + 1
    bounds = np.concatenate([[0], change, [len(pdf)]])
    for b in range(len(bounds) - 1):
        lo, hi = bounds[b], bounds[b + 1]
        before = len(out["cell"])
        tile_fn(int(cells[lo]), urls[lo:hi], kinds[lo:hi],
                xs[lo:hi], ys[lo:hi], offsets[lo:hi], owners[lo:hi], out)
        # tag each emitted row with its (cell, salt) subgroup so the
        # manifest can aggregate per-subgroup counters exactly
        out["salt"].extend([int(salts[lo])] * (len(out["cell"]) - before))
    return _kernel_out_pdf(out)


def _reduce_bend_kernel(pdf: pd.DataFrame, diameter_tol: float, smooth: bool,
                        epsilon=WORLD_EPS, flag_del_outer: bool = False,
                        flag_del_inner: bool = False) -> pd.DataFrame:
    return _run_bucket(pdf, lambda c, u, k, x, y, r, o, out:
                       _reduce_bend_tile(c, u, k, x, y, r, o, diameter_tol, smooth, out,
                                         epsilon=epsilon, flag_del_outer=flag_del_outer,
                                         flag_del_inner=flag_del_inner))


def _dp_kernel(pdf: pd.DataFrame, tolerance: float, method: str) -> pd.DataFrame:
    return _run_bucket(pdf, lambda c, u, k, x, y, r, o, out:
                       _dp_tile(c, u, k, x, y, r, o, tolerance, method, out))


def simplify_tiles(geoms_with_cells: DataFrame, diameter_tol: float = 0.004,
                   kernel: str = "sherbend", smooth: bool = False,
                   n_buckets: int | None = None, epsilon=WORLD_EPS,
                   flag_del_outer: bool = False,
                   flag_del_inner: bool = False) -> DataFrame:
    """Per-tile kernels over halo-complete tiles.

    One (cell, salt) hash repartition into ``n_buckets`` partitions,
    sorted within each, feeds one mapInPandas: every partition holds
    many whole tiles, and the kernel carves them from the Arrow batches
    and iterates them as numpy slices — per-task Arrow/pandas overhead
    is paid per bucket, not per tile.  Tile semantics are unchanged:
    each (cell, salt) tile is processed independently, owners only are
    emitted."""
    if kernel == "sherbend":
        def bucket_fn(pdf):
            return _reduce_bend_kernel(pdf, diameter_tol, smooth, epsilon=epsilon,
                                       flag_del_outer=flag_del_outer,
                                       flag_del_inner=flag_del_inner)
    else:
        def bucket_fn(pdf):
            return _dp_kernel(pdf, diameter_tol, kernel)

    has_salt = "salt" in geoms_with_cells.columns
    spark = geoms_with_cells.sparkSession
    if n_buckets is None:
        # SIZE-ADAPTIVE bucket count (guide §2: partitioning must not
        # be a constant tuned for one scale).  Big inputs get several
        # waves of tasks (per-tile kernel cost is heterogeneous, so
        # more-tasks-than-cores evens out stragglers — measured ~40%
        # idle core-time with 1 task per core at capacity size), but a
        # fixed P*4 at SMALL inputs pays ~0.4 CPU-s of per-task
        # JVM+Python overhead for sub-ms buckets (r6: the transport-
        # only stage cost 63 CPU-s at 128 buckets vs 23 at 32 for the
        # same 59k rows).  The optimizer's sizeInBytes estimate is
        # free (no extra job; exact for cached inputs) and sets the
        # wave count: ~4 MB of geometry per bucket, floored at one
        # full wave, capped at 4 waves.
        p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        try:
            size = int(str(geoms_with_cells._jdf.queryExecution()
                           .optimizedPlan().stats().sizeInBytes()))
        except Exception:  # noqa: BLE001 - stats are best-effort
            size = 0
        if 0 < size < (1 << 50):  # a real estimate, not the unknown cap
            n_buckets = max(p, min(p * 4, -(-size // (4 << 20))))
        else:
            n_buckets = p * 4

    # ONE shuffle: hash-partition by (cell, salt) — every tile lands
    # wholly in one partition — then run the kernel with mapInPandas,
    # CARVING tiles incrementally.  (groupBy().applyInPandas would add
    # a second shuffle after the salting repartition.)
    #
    # The partition-local sort makes each tile's rows CONTIGUOUS, so
    # the Python worker holds at most (current tile + one Arrow batch)
    # in memory — salting bounds a TILE (~2x target_rows_per_task), but
    # nothing bounds a PARTITION (~total/(4P) rows: gathering it whole,
    # as this stage originally did, OOMs the worker once rows-per-
    # partition outgrow memory at scale).  Tungsten sort spills to disk;
    # per-tile outputs are unchanged (the kernel re-sorts each bucket
    # internally with a stable mergesort).
    key_names = ["cell", "salt"] if has_salt else ["cell"]
    keys = [F.col(k) for k in key_names]
    parted = (geoms_with_cells.repartition(n_buckets, *keys)
              .sortWithinPartitions(*keys))

    def run(batches):
        import numpy as _np
        pending = None  # open tail: the final (possibly incomplete) tile
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            kc = pdf[key_names].to_numpy()
            tail = (kc == kc[-1]).all(axis=1)
            not_tail = _np.nonzero(~tail)[0]
            # sorted input => rows of the last key form the contiguous
            # suffix; everything before it is complete tiles
            cut = int(not_tail[-1]) + 1 if len(not_tail) else 0
            if cut > 0:
                yield bucket_fn(pdf.iloc[:cut].reset_index(drop=True))
                pending = pdf.iloc[cut:].reset_index(drop=True)
            else:
                pending = pdf
        if pending is not None and len(pending):
            yield bucket_fn(pending)

    return parted.mapInPandas(run, KERNEL_OUT_SCHEMA)


# ---------------------------------------------------------------------------
# full pipeline with checkpoint/resume
# ---------------------------------------------------------------------------

def derive_epsilon(covered: DataFrame) -> Epsilon:
    """R1 — the reference's data-dependent epsilon from the global
    bbox of ALL input features (reduce_bend_algorithm.py:1045-1088):
    one whole-stage-codegen min/max aggregate over the coordinate
    arrays, collapsed to a driver scalar and passed into the kernels
    as a literal."""
    row = covered.agg(
        F.min(F.array_min("xs")).alias("xmin"),
        F.min(F.array_min("ys")).alias("ymin"),
        F.max(F.array_max("xs")).alias("xmax"),
        F.max(F.array_max("ys")).alias("ymax")).collect()[0]
    if row["xmin"] is None:
        return Epsilon(None)
    return Epsilon((row["xmin"], row["ymin"], row["xmax"], row["ymax"]))


def run_pipeline(spark: SparkSession, pages: DataFrame, out_dir: str,
                 res: int = 6, diameter_tol: float = 0.004,
                 kernel: str = "sherbend", smooth: bool = False,
                 target_rows_per_task: int = 20_000,
                 stage: str = "simplify", epsilon=WORLD_EPS) -> dict:
    """End-to-end run; resumable via the manifest in out_dir.
    Returns counters.  ``epsilon=None`` derives the reference's
    data-dependent epsilon from the global bbox of the actual inputs
    (one agg pass, R1); the default pins WORLD_EPS because the
    synthetic geocoder's domain IS the full lon/lat plane."""
    # fail FAST on a non-epsilon param mismatch — before the expensive
    # covered materialization (the epsilon part of the fingerprint can
    # only be checked after resolution below)
    _precheck_run_params(out_dir, stage, res=res, diameter_tol=diameter_tol,
                         kernel=kernel, smooth=smooth)
    deduped = pages.dropDuplicates(["url"])
    # persisted: reused by the salting count pass and the kernel stage
    # (S4 — the reference's in-memory temp layers, SURVEY.md §2.1)
    covered = pages_to_covered_geoms(deduped, res).persist()
    try:
        covered.count()  # materialize once; multiple AQE stages consume it
        if epsilon is None:
            epsilon = derive_epsilon(covered)
        # params are checked AFTER epsilon resolution so the recorded
        # fingerprint carries the RESOLVED values — a first run with an
        # explicit epsilon equal to the derived one no longer mismatches
        # a later epsilon=None resume (ADVICE r3)
        _check_run_params(out_dir, stage, res=res, diameter_tol=diameter_tol,
                          kernel=kernel, smooth=smooth,
                          epsilon=[epsilon.zero_relative, epsilon.zero_absolute])
        return _run_pipeline_body(spark, covered, out_dir, res, diameter_tol,
                                  kernel, smooth, target_rows_per_task,
                                  stage, epsilon)
    finally:
        # release even on failure: a foreachBatch loop calling
        # run_pipeline per micro-batch would otherwise pin one cached
        # frame per (failed) batch for the session's lifetime
        covered.unpersist()


def _params_path(out_dir: str, stage: str) -> tuple:
    """(params-file path, local dir) for the run-parameter guard; RAISES
    on non-local schemes (the guard uses driver-local file IO — manifest
    reads themselves go through the Hadoop FS API and support remote
    schemes)."""
    import os as _os

    scheme = out_dir.split("://", 1)[0] if "://" in out_dir else ""
    if scheme not in ("", "file"):
        raise NotImplementedError(
            f"run_pipeline: the run-parameter guard uses driver-local file "
            f"IO and does not support out_dir scheme {scheme!r}; mount the "
            f"checkpoint dir locally or extend _check_run_params with "
            f"Hadoop FS atomic-create before using {out_dir!r}")
    local_dir = out_dir[len("file://"):] if scheme == "file" else out_dir
    return _os.path.join(local_dir, f"_params_{stage}.json"), local_dir


def _precheck_run_params(out_dir: str, stage: str, **non_eps_params) -> None:
    """Early subset check: if a params file already exists, verify the
    NON-epsilon parameters match before any heavy work runs (the full
    fingerprint — including resolved epsilon — is verified/recorded by
    `_check_run_params` after epsilon resolution).  Never creates the
    file; silently returns when none exists yet."""
    import json as _json
    import os as _os

    path, _ = _params_path(out_dir, stage)
    if not _os.path.exists(path):
        return
    prev = _json.loads(open(path).read())
    mismatched = {k: (prev.get(k), v) for k, v in non_eps_params.items()
                  if prev.get(k) != v}
    if mismatched:
        raise ValueError(
            f"run_pipeline: out_dir {out_dir!r} stage {stage!r} was written "
            f"with different parameters {mismatched} — use a new out_dir or "
            f"stage")


def _check_run_params(out_dir: str, stage: str, **params) -> None:
    """Resume safety: a stage's manifest prunes on (stage, cell) only,
    so resuming into the same out_dir/stage with DIFFERENT parameters
    (kernel, tolerance, res, ...) would silently keep tiles computed
    under the old ones — or compare incommensurable cell ids across
    resolutions.  The first run records its parameters; later runs
    must match or use a fresh out_dir/stage.

    The fingerprint is written to a unique temp file first and then
    PUBLISHED atomically with os.link (which fails EEXIST if another
    run won): the loser can only ever read a fully-written winner file,
    and a crash mid-write leaves no half-written/empty params file to
    poison later runs (a plain O_CREAT|O_EXCL create-then-write had
    both of those races).  Uses driver-local file IO, so non-local
    out_dir schemes RAISE explicitly rather than silently skipping the
    check (manifest reads themselves go through the Hadoop FS API and
    do support remote schemes)."""
    import json as _json
    import os as _os

    path, local_dir = _params_path(out_dir, stage)
    fp = _json.dumps(params, sort_keys=True)

    def _verify(prev: str) -> None:
        if prev == fp:
            return
        # legacy compatibility: params files written before the
        # resolved-epsilon change recorded "epsilon": null for
        # epsilon=None runs.  The resumed run resolves a concrete
        # epsilon from the SAME inputs, so a null on disk with every
        # other key equal is the same run — accept it and upgrade the
        # file in place (atomic replace) so the resolved value is
        # pinned from now on (ADVICE r4).
        try:
            prev_d = _json.loads(prev)
        except ValueError:
            prev_d = None
        if (isinstance(prev_d, dict) and prev_d.get("epsilon") is None
                and params.get("epsilon") is not None
                and {k: v for k, v in prev_d.items() if k != "epsilon"}
                == {k: v for k, v in params.items() if k != "epsilon"}):
            tmp2 = f"{path}.tmp.{_os.getpid()}.upgrade"
            with open(tmp2, "w") as f2:
                f2.write(fp)
                f2.flush()
                _os.fsync(f2.fileno())
            _os.replace(tmp2, path)
            return
        raise ValueError(
            f"run_pipeline: out_dir {out_dir!r} stage {stage!r} was "
            f"written with different parameters {prev}; resuming with "
            f"{fp} would mix results — use a new out_dir or stage")

    _os.makedirs(local_dir, exist_ok=True)
    if _os.path.exists(path):
        _verify(open(path).read())
        return
    tmp = f"{path}.tmp.{_os.getpid()}"
    with open(tmp, "w") as f:
        f.write(fp)
        f.flush()
        _os.fsync(f.fileno())
    try:
        _os.link(tmp, path)
    except FileExistsError:
        _verify(open(path).read())
    finally:
        _os.unlink(tmp)


def _run_pipeline_body(spark, covered, out_dir, res, diameter_tol, kernel,
                       smooth, target_rows_per_task, stage, epsilon) -> dict:
    completed = MF.read_completed(spark, out_dir, stage)
    attempt = 0
    if completed is not None:
        prev = completed.agg(F.max("attempt")).collect()[0][0]
        if prev is None:
            completed = None  # manifest exists but not for this stage
        else:
            attempt = prev + 1
    todo = MF.prune_completed(covered, completed, tile_col="cell")

    salted = salt_by_cell(todo, key_col="url", cell_col="cell",
                          target_rows_per_task=target_rows_per_task)
    result = simplify_tiles(salted, diameter_tol, kernel, smooth, epsilon=epsilon)
    # idempotent per-attempt output dir: a re-run of the same attempt
    # overwrites rather than duplicating (S7 "latest complete attempt")
    # within-partition sort by cell: parquet row groups become
    # cell-clustered so downstream per-tile reads touch fewer pages
    # (no extra shuffle — sort is partition-local)
    (result.sortWithinPartitions("cell")
     .write.mode("overwrite").parquet(f"{out_dir}/data/stage={stage}/attempt={attempt}"))

    # per-tile counters for THIS attempt -> manifest, written as a
    # DataFrame (distributed groupBy + write; the per-tile rows never
    # round-trip through the driver — at res 12 there can be 16.7M
    # tiles and a driver-side collect would be the bottleneck)
    import time as _time
    new_data = spark.read.parquet(f"{out_dir}/data/stage={stage}/attempt={attempt}")
    # counters are per-(cell, salt) SUBGROUP totals replicated onto each
    # of the subgroup's rows: take one value per subgroup, then SUM the
    # additive ones across salts (a plain per-cell max under-reported
    # hot salted cells by all but the largest subgroup)
    per_salt = (new_data.groupBy("cell", "salt")
                .agg(F.count("*").alias("nf"),
                     F.first("n_bend_reduced").alias("s_bend"),
                     F.first("n_hole_del").alias("s_hole"),
                     F.first("n_line_smooth").alias("s_smooth"),
                     F.first("n_pass").alias("s_pass"),
                     F.first("n_pol_del").alias("s_pol"),
                     F.sum("n_in").alias("s_in"),
                     F.sum("n_out").alias("s_out")))
    counters = F.to_json(F.struct(
        F.sum("s_bend").alias("n_bend_reduced"),
        F.sum("s_hole").alias("n_hole_del"),
        F.sum("s_smooth").alias("n_line_smooth"),
        F.max("s_pass").alias("n_pass"),
        F.sum("s_pol").alias("n_pol_del"),
        F.sum("s_in").alias("v_in"),
        F.sum("s_out").alias("v_out")))
    mdf = (per_salt.groupBy("cell")
           .agg(F.sum("nf").alias("n_features"), counters.alias("counters"))
           .select(F.lit(stage).alias("stage"),
                   F.col("cell").alias("tile"),
                   F.lit(attempt).cast("int").alias("attempt"),
                   F.col("n_features").cast("long"),
                   "counters",
                   F.lit(float(_time.time())).alias("ts")))
    MF.append_manifest(mdf, out_dir)

    # stats for THIS stage only (out_dir may host several stages)
    written = (spark.read.option("basePath", f"{out_dir}/data")
               .parquet(f"{out_dir}/data/stage={stage}"))
    agg = written.agg(F.count("*").alias("geoms"),
                      F.countDistinct("cell").alias("tiles"),
                      F.sum("n_in").alias("v_in"),
                      F.sum("n_out").alias("v_out")).collect()[0]
    return {"geoms": agg["geoms"], "tiles": agg["tiles"],
            "v_in": int(agg["v_in"] or 0), "v_out": int(agg["v_out"] or 0)}
