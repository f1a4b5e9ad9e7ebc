"""Path-stage filters F1/F2/F3 as native Column expressions.

These are the cheapest predicates in the pipeline, evaluated JVM-side
(whole-stage codegen, no Python) before any content-touching stage, so
Catalyst can prune work early — the Spark analog of the reference pruning
ignored subtrees during the walk (walk-tree.ts:82-83) and of its regex-ignore
/ vendor / binary-extension passes (src/index.ts:119-169).

Each default regex list is pre-joined into ONE case-insensitive alternation
(metadata.py) so each list costs a single rlike per row instead of N.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import QualityFilterConfig
from ..metadata import Metadata, glob_to_regex
from ..oracle import OverrideRule, _OVR_ATTRS

# URL -> relative path (oracle.path_of_url analog, JVM-side)
_SCHEME_PAT = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*/*"


def path_col(url: Column) -> Column:
    return F.regexp_replace(url, _SCHEME_PAT, "")


def _any_glob(path: Column, globs: list[str]) -> Column:
    """OR of gitignore-glob matches; False literal when the list is empty."""
    if not globs:
        return F.lit(False)
    alt = "(" + "|".join("(?:%s)" % glob_to_regex(g) for g in globs) + ")"
    return path.rlike(alt)


def override_attr_col(
    path: Column, overrides: list[OverrideRule], attr: str
) -> Column:
    """Merged override attribute: all matching globs, later non-null wins
    (src/index.ts:90-105) — emitted as a reverse-order coalesce of CASE
    expressions, fully native."""
    branches = [
        F.when(path.rlike(glob_to_regex(r.glob)), F.lit(getattr(r, attr)))
        for r in reversed(overrides)
        if getattr(r, attr) is not None
    ]
    if not branches:
        return F.lit(None).cast("boolean" if attr != "language" else "string")
    return F.coalesce(*branches)


def forced_lang_col(path: Column, overrides, resolve) -> Column:
    """C1 forced-language override: FIRST matching glob wins
    (src/index.ts:218-227), alias-resolved and group-collapsed at driver
    time via ``resolve``."""
    branches = [
        F.when(path.rlike(glob_to_regex(r.glob)), F.lit(resolve(r.language)))
        for r in overrides
        if r.language
    ]
    if not branches:
        return F.lit(None).cast("string")
    return F.coalesce(*branches)


def path_filter_cols(
    md: Metadata,
    cfg: QualityFilterConfig,
    overrides: list[OverrideRule] | None = None,
    user_ignore_globs: list[str] | None = None,
) -> tuple[Column, Column]:
    """The `path` column (from `url`) and the `drop_reason_path` column
    (over `path`; null == survives to classify).

    Column algebra mirrors oracle.path_filter exactly:
      stage 1 regex-ignore w/ generated/vendored==false merged-attr escape,
      stage 2 glob-level true-flag drops, binary ext + binary=true globs.
    """
    overrides = overrides or []
    p = F.col("path")

    ignored = F.lit(False)
    if cfg.check_ignored:
        from ..metadata import _load_json  # default ignore globs

        default_globs = _load_json("filters.json")["default_ignore_globs"]
        ignored = _any_glob(p, default_globs + list(user_ignore_globs or []) + list(cfg.ignored_globs))

    is_vendor = p.rlike(md.vendor_alt)
    is_doc = p.rlike(md.documentation_alt)
    is_gen = p.rlike(md.generated_alt)

    esc = (
        override_attr_col(p, overrides, "generated").eqNullSafe(F.lit(False))
        | override_attr_col(p, overrides, "vendored").eqNullSafe(F.lit(False))
    )
    vendor_true_glob = (
        _any_glob(p, [r.glob for r in overrides if r.vendored is True])
        | _any_glob(p, [r.glob for r in overrides if r.generated is True])
        | _any_glob(p, [r.glob for r in overrides if r.documentation is True])
    )

    binary_ext = p.rlike(md.binary_ext_alt) | _any_glob(
        p, [r.glob for r in overrides if r.binary is True]
    )

    reason = F.when(ignored, F.lit("ignored"))
    if not cfg.keep_vendored:
        reason = (
            reason.when(is_vendor & ~esc, F.lit("vendored"))
            .when(is_doc & ~esc, F.lit("documentation"))
            .when(is_gen & ~esc, F.lit("generated"))
            .when(vendor_true_glob, F.lit("vendored"))
        )
    if not cfg.keep_binary:
        reason = reason.when(binary_ext, F.lit("binary-ext"))

    return path_col(F.col("url")), reason.otherwise(F.lit(None))


def with_filter_flags(
    df,
    md: Metadata,
    cfg: QualityFilterConfig,
    overrides: list[OverrideRule] | None = None,
    user_ignore_globs: list[str] | None = None,
):
    """Adds `path` and `drop_reason_path` (path_filter_cols)."""
    path, reason = path_filter_cols(md, cfg, overrides, user_ignore_globs)
    return df.withColumn("path", path).withColumn("drop_reason_path", reason)
