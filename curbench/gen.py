"""Seeded input generators for the curation benchmark.

Each generator takes the workload seed and a size, writes its inputs
as parquet into a directory, and returns the input properties the
workload's cost depends on (printed by the benchmark so that drift in
the inputs shows next to drift in the figures).

- ``web_pages``: many small ``corpus.gen_page`` pages (about 20 nodes
  each, all on the fast parse path, zipf-skewed hosts).
- ``long_pages``: pages with hundreds to thousands of sequence nodes;
  every fourth live page carries a construct that sends
  ``html_parser`` to the stdlib path, and a few are undecodable or
  have no node to keep.

Same (seed, size) gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WEB_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# Pages go in PAGE_FILES parquet files.
PAGE_FILES = 4
# Small pages whose sequence nodes are counted for the input properties.
NODES_SAMPLE = 500
# Sequence-node counts of long pages: log-uniform over this range.
LONG_MIN_NODES, LONG_MAX_NODES = 200, 3000
# Undecodable pages, and pages without a kept node, in the long-page corpus.
LONG_DEAD = 2
# Constructs outside html_parser's fast subset, appended inside <main>.
BAIL_CONSTRUCTS = (
    "<p>price &lt; 10 and x < y holds</p>",  # literal '<' in text
    "<p>raw <![CDATA[ payload ]]> end</p>",  # marked section
    "<p>trailing note</p><!-- unterminated comment",  # EOF in comment
)


def _page_row(url: str, i: int, html: bytes, text: str, lang: str) -> dict:
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(seconds=i * 37)
    return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}


def _long_page(rng: random.Random, words: list[str], n_nodes: int, kind: str) -> tuple[bytes, str]:
    """One long page with about ``n_nodes`` sequence nodes."""
    def sent(lo: int, hi: int) -> str:
        return " ".join(rng.choices(words, k=rng.randint(lo, hi))).capitalize() + "."

    if kind == "undecodable":
        return b"\x00\x01\x02binary payload " + bytes(rng.randrange(256) for _ in range(64)), ""
    if kind == "no_kept":
        # sequence nodes of symbols only: the model keeps none of them
        return (
            "<html><head><title></title></head><body><div>|</div>"
            "<p>&raquo; &middot; --</p><span>{ } ; ( )</span><div>#</div></body></html>"
        ).encode(), ""
    blocks, texts, made = [], [], 0
    while made < n_nodes:
        r = rng.random()
        if r < 0.7:
            t = sent(6, 24)
            blocks.append(f"<p>{t}</p>")
            texts.append(t)
            made += 1
        elif r < 0.85:
            items = [sent(2, 6) for _ in range(rng.randint(2, 6))]
            blocks.append("<ul>" + "".join(f"<li>{t}</li>" for t in items) + "</ul>")
            texts.extend(items)
            made += len(items)
        elif r < 0.95:
            cells = [sent(1, 4) for _ in range(rng.randint(2, 4))]
            blocks.append(
                "<table>" + "".join(f"<tr><td>{c}</td><td>{rng.randint(0, 999)}</td></tr>" for c in cells)
                + "</table>"
            )
            texts.extend(cells)
            made += 2 * len(cells) + 1
        else:
            items = [sent(3, 8) for _ in range(rng.randint(2, 4))]
            blocks.append("<ol>" + "".join(f"<li>{t}</li>" for t in items) + "</ol>")
            texts.extend(items)
            made += len(items) + 1
    if kind == "bail":
        blocks.insert(rng.randrange(len(blocks) + 1), rng.choice(BAIL_CONSTRUCTS[:2]))
    nav = "".join(f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(words, 5))
    html = (
        "<html><head><title>" + sent(3, 6) + "</title><meta charset=\"utf-8\"/></head><body>\n"
        f"<nav><ul>{nav}</ul></nav>\n<main><article>\n" + "\n".join(blocks)
        + "\n</article></main>\n<footer><p>archive page</p></footer>\n"
    )
    if kind == "bail" and rng.random() < 1 / 3:
        html += BAIL_CONSTRUCTS[2]  # unterminated comment swallows the tail
    else:
        html += "</body></html>"
    return html.encode("utf-8"), "\n".join(texts)


def _write_files(out_dir: str, files: list[list[dict]]) -> None:
    os.makedirs(os.path.join(out_dir, "pages"), exist_ok=True)
    for f, rows in enumerate(files):
        pq.write_table(pa.Table.from_pylist(rows, schema=WEB_PAGES_SCHEMA),
                       os.path.join(out_dir, "pages", f"part-{f}.parquet"), row_group_size=64)


def web_pages(seed: int, n: int, out_dir: str) -> dict:
    """``n`` small ``corpus.gen_page`` pages -> ``out_dir/pages/part-*.parquet``,
    an equal run of pages per file; returns the input properties, with
    sequence nodes per page counted over the first NODES_SAMPLE pages."""
    from neuscraper_spark.corpus import gen_page
    from neuscraper_spark.operators.extract import _page_sequence

    small = [gen_page(seed, i) for i in range(n)]
    _write_files(out_dir, [small[f * n // PAGE_FILES : (f + 1) * n // PAGE_FILES] for f in range(PAGE_FILES)])
    hosts: dict[str, int] = {}
    for r in small:
        h = r["url"].split("/")[2]
        hosts[h] = hosts.get(h, 0) + 1
    nodes = [len(_page_sequence(r["html"])) for r in small[:NODES_SAMPLE]]
    return {
        "rows": n,
        "top_host_share": round(max(hosts.values()) / n, 4),
        "mean_nodes": round(sum(nodes) / len(nodes), 1),
        "max_nodes": max(nodes),
        "bail_share": 0.0,
        "no_output_pages": 0,
        "kinds": {r["url"]: "small" for r in small},
    }


def long_pages(seed: int, n: int, out_dir: str) -> dict:
    """``n`` long pages -> ``out_dir/pages/part-*.parquet``; returns the
    input properties, with ``kinds`` mapping each url to its kind.

    The layout is the same for every seed: one log-uniform node stratum
    per live page, every fourth live page with a bail construct, then
    ``LONG_DEAD`` undecodable pages and ``LONG_DEAD`` pages without a
    kept node. The pages are dealt largest-first to the file with the
    fewest nodes, so the PAGE_FILES files carry equal work. Each file is
    one Spark task at local[4], so which task carries a heavy page does
    not move with the seed; with more cores Spark splits the files at
    row-group boundaries."""
    from neuscraper_spark.corpus import LANGS, WORDS

    n_live = n - 2 * LONG_DEAD
    layout = [("bail" if k % 4 == 1 else "normal", k) for k in range(n_live)]
    layout += [("undecodable", None)] * LONG_DEAD + [("no_kept", None)] * LONG_DEAD
    lo, hi = np.log(LONG_MIN_NODES), np.log(LONG_MAX_NODES)
    rows, kinds, nodes = [], {}, []
    for i, (kind, k) in enumerate(layout):
        prng = random.Random((seed << 20) ^ (i * 2654435761))
        lang = prng.choices(LANGS, weights=[6, 2, 2, 2])[0]
        n_nodes = 0 if k is None else int(round(np.exp(lo + (hi - lo) * (k + prng.random()) / n_live)))
        html, text = _long_page(prng, WORDS[lang], n_nodes, kind)
        url = f"https://www.archive{prng.randrange(8)}.example/long/{i:06d}.html"
        rows.append(_page_row(url, i, html, text, lang))
        kinds[url] = kind
        nodes.append(n_nodes)
    files: list[list[dict]] = [[] for _ in range(PAGE_FILES)]
    load = [0] * PAGE_FILES
    for i in sorted(range(n), key=lambda i: -nodes[i]):
        f = load.index(min(load))
        files[f].append(rows[i])
        load[f] += nodes[i]
    _write_files(out_dir, files)
    live = [k for k in nodes if k]
    return {
        "rows": n,
        "mean_nodes": round(sum(live) / len(live), 1),
        "max_nodes": max(live),
        "bail_share": round(list(kinds.values()).count("bail") / n, 4),
        "no_output_pages": 2 * LONG_DEAD,
        "kinds": kinds,
    }


GENERATORS = {"web_pages": web_pages, "long_pages": long_pages}


def ensure(kind: str, seed: int, size: int, cache_root: str) -> tuple[str, dict]:
    """Generate once per (kind, seed, size) under ``cache_root``; return
    (directory, properties). A set is complete once its ``props.json``
    exists, so an interrupted run regenerates it."""
    d = os.path.join(cache_root, f"{kind}-s{seed}-n{size}")
    props_path = os.path.join(d, "props.json")
    if not os.path.exists(props_path):
        os.makedirs(d, exist_ok=True)
        props = GENERATORS[kind](seed, size, d)
        with open(props_path + ".tmp", "w") as f:
            json.dump(props, f)
        os.replace(props_path + ".tmp", props_path)
    with open(props_path) as f:
        return d, json.load(f)

