"""YOLO layout-head postprocess kernels (numpy, per-image-batch local).

Reference semantics (SURVEY.md §2.4):
  - parse raw preds [A, D] into box/class slices — preds.rs:225-293 semantics
    for the anchor-major ("v8"-style, no obj-conf) layout used by
    DocLayout-YOLO (yolo/config.rs:17-35, YOLOv10 preset).
  - per-anchor class argmax + confidence — yolo/impl.rs:341-357.
  - class include/exclude filters — yolo/impl.rs:360-371.
  - per-class confidence thresholds with broadcast-last-value semantics
    (DynConf) — src/misc/dynconf.rs:33-50, applied yolo/impl.rs:374-376.
  - box decode cxcywh -> xywh with /ratio un-letterbox and max(0) clamp —
    yolo/impl.rs:378-420.
  - greedy NMS — xy/y.rs:92-114 (kernels/nms.py). YOLOv10/DocStructBench sets
    apply_nms=false (model-internal NMS, yolo/impl.rs:121-122); configurable.
  - abandon-filter + round-half-away-from-zero to i32 —
    docstructbench.rs:82-108 ("keep unless name=='abandon' and conf<0.50",
    then x/y/w/h .round() as i32).

All float work in float32 (SURVEY.md §7 float-drift risk).

DocStructBench class names: yolo/config.rs:23-34.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .letterbox import LetterboxSpec
from .nms import nms_indices

# DocLayout-YOLO DocStructBench label set, /root/reference/src/models/yolo/config.rs:23-34
DOCSTRUCTBENCH_NAMES = (
    "title",
    "plain text",
    "abandon",
    "figure",
    "figure_caption",
    "table",
    "table_caption",
    "table_footnote",
    "isolate_formula",
    "formula_caption",
)

ABANDON_CONF_FLOOR = np.float32(0.50)  # docstructbench.rs:88-91


def dyn_conf(confs: list[float] | tuple[float, ...], n: int) -> np.ndarray:
    """Per-class thresholds, broadcasting the LAST value out to n classes.

    Ref: DynConf::new dynconf.rs:33-50.
    """
    confs = list(confs)
    if not confs and n != 0:
        raise ValueError("No value found in confs")
    if len(confs) >= n:
        out = confs[:n]
    else:
        out = confs + [confs[-1]] * (n - len(confs))
    return np.asarray(out, dtype=np.float32)


@dataclass
class DecodedBoxes:
    """Per-image decode result: xywh float32 boxes in original coordinates.

    ``anchor_ids`` carries the raw-head anchor row index of each kept box —
    the analogue of the reference's ``Bbox::id_born`` (bbox.rs:10-19) — so
    downstream stages (span assembly) can join boxes back to source blocks.
    """

    boxes: np.ndarray  # [K,4] float32 xywh
    class_ids: np.ndarray  # [K] int64
    confs: np.ndarray  # [K] float32
    names: list[str]
    anchor_ids: np.ndarray = None  # [K] int64


def decode_preds(
    preds: np.ndarray,
    spec: LetterboxSpec,
    names: tuple[str, ...] = DOCSTRUCTBENCH_NAMES,
    confs: tuple[float, ...] = (0.4,),  # doclayout preset conf, yolo/config.rs:27
    iou_threshold: float = 0.45,
    apply_nms: bool = True,
    classes_excluded: tuple[int, ...] = (),
    classes_retained: tuple[int, ...] = (),
) -> DecodedBoxes:
    """Decode one image's raw head [A, 4+C] (cxcywh in canvas coords + class
    scores) into filtered xywh boxes in original-image coordinates."""
    preds = np.asarray(preds, dtype=np.float32)
    n_classes = len(names)
    if preds.size == 0:
        empty = np.empty((0, 4), dtype=np.float32)
        no_ids = np.empty(0, dtype=np.int64)
        return DecodedBoxes(empty, no_ids, np.empty(0, dtype=np.float32), [], no_ids)
    anchor_ids = np.arange(len(preds), dtype=np.int64)

    boxes_raw = preds[:, :4]
    clss = preds[:, 4 : 4 + n_classes]

    # per-anchor argmax class + confidence (yolo/impl.rs:344-357; no obj-conf slice)
    class_ids = np.argmax(clss, axis=1)
    confidences = clss[np.arange(len(clss)), class_ids].astype(np.float32)

    keep = np.ones(len(preds), dtype=bool)
    if classes_excluded:
        keep &= ~np.isin(class_ids, classes_excluded)  # yolo/impl.rs:360-364
    if classes_retained:
        keep &= np.isin(class_ids, classes_retained)  # yolo/impl.rs:366-371
    thresholds = dyn_conf(confs, n_classes)
    keep &= confidences >= thresholds[class_ids]  # yolo/impl.rs:374-376 (drop conf < thr)

    boxes_raw = boxes_raw[keep]
    class_ids = class_ids[keep]
    confidences = confidences[keep]
    anchor_ids = anchor_ids[keep]

    # un-letterbox: remove pad then /ratio (yolo/impl.rs:378-380)
    r = np.float32(spec.ratio)
    cx = (boxes_raw[:, 0] - np.float32(spec.pad_left)) / r
    cy = (boxes_raw[:, 1] - np.float32(spec.pad_top)) / r
    w = boxes_raw[:, 2] / r
    h = boxes_raw[:, 3] / r
    # Cxcywh -> xywh with max(0) clamp (yolo/impl.rs:391-396)
    x = np.maximum(cx - w / np.float32(2.0), np.float32(0.0))
    y = np.maximum(cy - h / np.float32(2.0), np.float32(0.0))
    boxes = np.stack([x, y, w, h], axis=1).astype(np.float32)

    if apply_nms and len(boxes):
        kept = nms_indices(boxes, confidences, iou_threshold)
        boxes = boxes[kept]
        class_ids = class_ids[kept]
        confidences = confidences[kept]
        anchor_ids = anchor_ids[kept]

    return DecodedBoxes(
        boxes=boxes,
        class_ids=class_ids.astype(np.int64),
        confs=confidences.astype(np.float32),
        names=[names[int(c)] for c in class_ids],
        anchor_ids=anchor_ids,
    )


def decode_preds_batched(
    preds_list: list[np.ndarray],
    specs: list[LetterboxSpec],
    names: tuple[str, ...] = DOCSTRUCTBENCH_NAMES,
    confs: tuple[float, ...] = (0.4,),
    iou_threshold: float = 0.45,
    apply_nms: bool = True,
) -> list[DecodedBoxes]:
    """decode_preds over MANY pages in one numpy pass — bit-identical to
    calling decode_preds per page (A/B over every sf0.001 page head, with
    an empty head mid-batch, in tests/test_extract_pipeline.py::
    test_kernels_batched_bitwise_equal_per_page_corpus): argmax/threshold/
    un-letterbox run on the concatenated head with per-row ratio/pad
    gathers, so the per-call numpy overhead
    (the dominant cost at ~50-anchor pages in this sandbox — CLAUDE.md
    allocation gotcha) is paid once per BATCH instead of once per page.
    NMS stays per page (its loop is over kept boxes, already tiny).

    No class include/exclude filters here — the extraction pipeline does
    not use them; callers needing those go through decode_preds."""
    n_pages = len(preds_list)
    out: list[DecodedBoxes | None] = [None] * n_pages
    live: list[int] = []
    arrays: list[np.ndarray] = []
    for p, preds in enumerate(preds_list):
        a = np.asarray(preds, dtype=np.float32)
        if a.size == 0:
            empty = np.empty((0, 4), dtype=np.float32)
            no_ids = np.empty(0, dtype=np.int64)
            out[p] = DecodedBoxes(
                empty, no_ids, np.empty(0, dtype=np.float32), [], no_ids
            )
        else:
            live.append(p)
            arrays.append(a)
    if not live:
        return out  # type: ignore[return-value]

    n_classes = len(names)
    lens = np.asarray([len(a) for a in arrays], dtype=np.int64)
    big = np.concatenate(arrays, axis=0)
    page_of = np.repeat(np.arange(len(live), dtype=np.int64), lens)
    # per-anchor id within its own page (the id_born contract)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    anchor_ids = np.arange(len(big), dtype=np.int64) - starts[page_of]

    clss = big[:, 4 : 4 + n_classes]
    class_ids = np.argmax(clss, axis=1)
    confidences = clss[np.arange(len(clss)), class_ids].astype(np.float32)
    thresholds = dyn_conf(confs, n_classes)
    keep = confidences >= thresholds[class_ids]

    boxes_raw = big[:, :4][keep]
    class_ids = class_ids[keep]
    confidences = confidences[keep]
    anchor_ids = anchor_ids[keep]
    kept_page = page_of[keep]

    # per-row un-letterbox: gather each page's ratio/pads (float32, the
    # same scalar ops decode_preds applies — broadcast per element)
    ratios = np.asarray([specs[live[i]].ratio for i in range(len(live))],
                        dtype=np.float32)
    pl = np.asarray([specs[live[i]].pad_left for i in range(len(live))],
                    dtype=np.float32)
    pt = np.asarray([specs[live[i]].pad_top for i in range(len(live))],
                    dtype=np.float32)
    r = ratios[kept_page]
    cx = (boxes_raw[:, 0] - pl[kept_page]) / r
    cy = (boxes_raw[:, 1] - pt[kept_page]) / r
    w = boxes_raw[:, 2] / r
    h = boxes_raw[:, 3] / r
    x = np.maximum(cx - w / np.float32(2.0), np.float32(0.0))
    y = np.maximum(cy - h / np.float32(2.0), np.float32(0.0))
    boxes = np.stack([x, y, w, h], axis=1).astype(np.float32)

    # split survivors back per page (concatenation preserved anchor order,
    # so each page's slice is already in decode_preds' row order)
    bounds = np.searchsorted(kept_page, np.arange(len(live) + 1))
    for j, p in enumerate(live):
        lo, hi = int(bounds[j]), int(bounds[j + 1])
        b = boxes[lo:hi]
        ci = class_ids[lo:hi]
        cf = confidences[lo:hi]
        ai = anchor_ids[lo:hi]
        if apply_nms and len(b):
            kept_idx = nms_indices(b, cf, iou_threshold)
            b, ci, cf, ai = b[kept_idx], ci[kept_idx], cf[kept_idx], ai[kept_idx]
        out[p] = DecodedBoxes(
            boxes=b,
            class_ids=ci.astype(np.int64),
            confs=cf.astype(np.float32),
            names=[names[int(c)] for c in ci],
            anchor_ids=ai,
        )
    return out  # type: ignore[return-value]


def round_half_away(x: np.ndarray) -> np.ndarray:
    """Rust f32::round (half away from zero), NOT numpy banker's rounding.

    Part of the byte/value-identical contract: docstructbench.rs:95-101
    rounds x/y/w/h with .round() before the i32 cast.
    """
    x = np.asarray(x, dtype=np.float32)
    return np.copysign(np.floor(np.abs(x) + np.float32(0.5)), x)


def abandon_filter_and_round(decoded: DecodedBoxes) -> list[dict]:
    """The DetectionOutput projection: drop (abandon & conf<0.50), round to i32.

    Ref: docstructbench.rs:82-108. Returns dicts with x,y,width,height int,
    plus cls/conf/id_born carried for downstream reading-order/assembly.
    """
    n = len(decoded.confs)
    if n == 0:
        return []
    # vectorized filter mask + rounding; dict assembly only for survivors
    is_abandon = np.asarray([nm.lower() == "abandon" for nm in decoded.names])
    keep = ~(is_abandon & (decoded.confs < ABANDON_CONF_FLOOR))
    idx = np.nonzero(keep)[0]
    rounded = round_half_away(decoded.boxes[idx]).astype(np.int64)
    out: list[dict] = []
    for j, i in enumerate(idx):
        out.append(
            {
                "x": int(rounded[j, 0]),
                "y": int(rounded[j, 1]),
                "width": int(rounded[j, 2]),
                "height": int(rounded[j, 3]),
                "cls": decoded.names[int(i)],
                "conf": float(decoded.confs[i]),
                "id_born": int(decoded.anchor_ids[i]),
            }
        )
    return out
