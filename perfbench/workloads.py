"""The three benchmark workloads: seeded inputs, the timed Spark pass, and
the output check for each.

Every workload is built from ``--seed`` alone; inputs are staged once per
seed under the work directory (parquet files, one Spark task per file per
core), in a directory keyed by a hash of the manifest and of every file
that generates the inputs or their expected outputs, so a change to any of
them restages rather than reusing stale pages and oracle text.

The crawl corpus draws its documents rows from ``data/documents.parquet``,
a copy of the 5,000-row sf0.1 ``documents`` table the corpus template was
written for (the benchmark reads nothing outside its checkout).

The timed pass goes through the public entry points ``job.parse_extract``
and ``job.run_job``; the check compares every output row against an oracle
that does not share the code path under test:

* ``crawl_onepass`` / ``resume_job``: the relational expected text of
  ``corpus.pages_oracle_cte`` evaluated in DuckDB;
* ``hostile_mix``: in-process ``job.parse_document(decode_html(bytes))``,
  with the committed fixture pages also checked against their golden trees.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(HERE, "manifest.json"), encoding="utf-8") as _f:
    MANIFEST = json.load(_f)

# the sf0.1 documents table (doc_id, text, lang, source, n_chars)
DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")

# the files that generate the staged inputs or their expected outputs; the
# staging directory is keyed by their hash
_INPUT_SOURCES = (
    "perfbench/manifest.json", "perfbench/workloads.py", "perfbench/data/documents.parquet",
    "htmlgraft/corpus.py", "tools/fuzz_diff.py", "tools/gen_adversarial_pages.py",
    "fixtures/pages_sample.jsonl", "fixtures/pages_adversarial.jsonl",
)

# each crawl document becomes this many pages (corpus.pages_oracle_cte's
# shifted copies)
MULTIPLIER = 2

# every synthesized crawl page carries the same 8 hrefs (nav 3, meta table
# 1, aside 2, footer 2); see htmlgraft.corpus._html_expr
CRAWL_LINKS_PER_PAGE = 8

# doc_id bases are multiples of 199 * 20 so that the paragraph count R and
# the oversized-page pattern (doc_id % 199 == 0) repeat exactly across
# seeds; the documents rows behind them change with the seed
_ID_STRIDE = 199 * 20


@dataclass
class Doc:
    """One input row as the parse UDF sees it."""

    url: str
    raw: bytes
    charset: str | None = None


@dataclass
class CheckResult:
    attempted: int = 0
    failed: int = 0
    ok_docs: int = 0
    problems: list = field(default_factory=list)

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(what)


def _write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split rows into ``n_files`` parquet files (one Spark task each) of
    near-equal html bytes: largest page first, each to the lightest file."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = [len(h) for h in table.column("html").to_pylist()]
    loads = [0] * n_files
    rows = [[] for _ in range(n_files)]
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        f = loads.index(min(loads))
        loads[f] += sizes[i]
        rows[f].append(i)
    for f, idx in enumerate(rows):
        pq.write_table(table.take(pa.array(sorted(idx), pa.int64())),
                       os.path.join(out_dir, f"part-{f:04d}.parquet"))


def _docs_from_table(table: pa.Table) -> list[Doc]:
    cols = table.to_pydict()
    hints = cols.get("charset", [None] * table.num_rows)
    return [Doc(u, h, c) for u, h, c in zip(cols["url"], cols["html"], hints)]


def _input_key() -> str:
    """Hash of the files in ``_INPUT_SOURCES``."""
    h = hashlib.sha256()
    for rel in _INPUT_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# crawl corpus (shared by crawl_onepass and resume_job)

def documents_table(rng: random.Random, n: int, base: int) -> pa.Table:
    """``n`` seeded rows of the sf0.1 documents table, renumbered
    ``base .. base + n - 1``.  The pages whose doc_id is oversized in any
    copy repeat their text 50 to 950 times, so they take rows from the
    middle tenth of text lengths (270-320 chars): a long or short draw
    there would swing the corpus size from seed to seed."""
    src = pq.read_table(DOCUMENTS)
    rows = rng.sample(range(src.num_rows), n)
    texts = src.column("text").to_pylist()
    by_len = sorted(range(src.num_rows), key=lambda r: (len(texts[r]), r))
    middle = by_len[len(by_len) * 9 // 20: len(by_len) * 11 // 20]
    for i in range(n):
        if any((base + i + k * 1_000_000) % 199 == 0 for k in range(MULTIPLIER)):
            rows[i] = rng.choice(middle)
    picked = src.take(pa.array(rows, pa.int64()))
    return picked.set_column(0, "doc_id", pa.array(range(base, base + n), pa.int64()))


def crawl_pages(documents_path: str) -> pa.Table:
    """Pages (url, lang, html, expected) for a documents parquet, through
    the DuckDB spelling of the corpus template (``corpus.html_expr_duck``)
    and the relational expected text (``corpus.pages_oracle_cte``).  The
    Spark spelling (``corpus.pages_df``) is checked byte-equal to these
    pages by ``spark_spelling_mismatches``."""
    import duckdb

    from htmlgraft.corpus import html_expr_duck, pages_oracle_cte

    con = duckdb.connect()
    try:
        quoted = documents_path.replace("'", "''")
        con.execute(f"create view documents as select * from read_parquet('{quoted}')")
        # pages_oracle_cte ends with the 'expected' CTE; its 'derived' CTE
        # carries the template's input columns
        sql = pages_oracle_cte("documents", MULTIPLIER) + f"""
          select e.url, p.lang, p.html, e.text as expected
          from (select doc_id, lang, encode({html_expr_duck()}) as html
                from derived) p
          join expected e using (doc_id)
          order by p.doc_id
        """
        return con.execute(sql).arrow()
    finally:
        con.close()


def spark_spelling_mismatches(spark, documents_path: str, staged: pa.Table) -> int:
    """Rows where ``corpus.pages_df`` (Spark SQL) builds other html bytes
    than the staged DuckDB spelling; 0 when the two agree."""
    from htmlgraft.corpus import pages_df

    sf_dir = os.path.dirname(documents_path)
    got = {
        r["url"]: bytes(r["html"])
        for r in pages_df(spark, sf_dir, multiplier=MULTIPLIER)
        .select("url", "html").collect()
    }
    want = dict(zip(staged.column("url").to_pylist(), staged.column("html").to_pylist()))
    return sum(1 for u, h in want.items() if got.get(u) != h) + abs(len(got) - len(want))


def _passthrough_fn(include_links: bool):
    """A mapInPandas function that returns the result schema without
    parsing (nested, so Spark pickles it by value)."""

    def passthrough(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            out = {
                "url": pdf["url"].tolist(),
                "lang": pdf["lang"].tolist() if "lang" in pdf else [None] * n,
                "dom": [""] * n, "text": [""] * n,
                "n_tokens": [0] * n, "n_nodes": [0] * n, "n_errors": [0] * n,
                "n_bytes": [len(h) for h in pdf["html"].tolist()],
                "parse_ms": [0.0] * n, "status": ["ok"] * n,
                "part_id": pdf["part_id"].tolist() if "part_id" in pdf else [0] * n,
            }
            if include_links:
                out.update(links=[[] for _ in range(n)], title=[None] * n,
                           h1=[None] * n, has_doctype=[0] * n)
            yield pd.DataFrame(out)
    return passthrough


@contextlib.contextmanager
def passthrough_udf():
    """While the block runs, ``job.make_parse_batch`` builds the no-parse
    function: the public entry points then run their own plan (scan,
    resume anti-join, repartition, sinks, read-back) with the parse taken
    out, which is the Spark cost of a pass."""
    from htmlgraft import job

    real = job.make_parse_batch
    job.make_parse_batch = lambda include_dom=True, max_batch_bytes=0, include_links=False: \
        _passthrough_fn(include_links)
    try:
        yield
    finally:
        job.make_parse_batch = real


class _Workload:
    """What the three workloads share: a per-seed staging directory under
    the work dir (only the current one is kept) and the warm-up slice."""

    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.cfg = MANIFEST["workloads"][self.name]
        # one file per core: one task per core per pass
        self.n_files = MANIFEST["cores"]
        self.dir = os.path.join(work, f"{self.name}-seed{seed}-{_input_key()}")

    def pages_dir(self, sub: str = "main") -> str:
        return os.path.join(self.dir, sub, "pages")

    def fresh_state(self, tag: str) -> str | None:
        """A private state dir for one pass (only ``run_job`` needs one)."""
        return None

    def spelling_check(self, spark) -> int:
        """Rows where Spark-side input synthesis disagrees with the staged
        inputs (only the corpus-based workloads have one)."""
        return 0

    def build_oracle(self) -> list[str]:
        """Prepare the expected outputs that need the program itself;
        returns problems found on the way (none by default)."""
        return []

    def output_rows(self, spark, out, tag: str) -> int:
        """Rows the pass ``tag`` produced, from what ``run_pass`` returned."""
        return out.num_rows

    def cleanup(self) -> None:
        """Drop per-pass outputs and every other staging directory of
        this workload (other seeds, or inputs staged by other sources)."""
        for entry in os.listdir(self.work):
            path = os.path.join(self.work, entry)
            if entry.startswith(f"{self.name}-seed") and path != self.dir:
                shutil.rmtree(path, ignore_errors=True)
        if os.path.isdir(self.dir):
            for entry in os.listdir(self.dir):
                if entry.startswith("run-"):
                    shutil.rmtree(os.path.join(self.dir, entry), ignore_errors=True)


class _CrawlBase(_Workload):
    include_dom = True
    include_links = False

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.n_docs = self.cfg["docs"]

    # inputs -------------------------------------------------------------

    def prepare(self) -> None:
        """Generate and stage the corpus and its warm-up slice (cached)."""
        done = os.path.join(self.dir, "READY")
        rng = random.Random(f"{self.name}:{self.seed}")
        base = rng.randrange(1, 200) * _ID_STRIDE
        if not os.path.exists(done):
            os.makedirs(self.dir, exist_ok=True)
            for sub, n, b in (("main", self.n_docs // MULTIPLIER, base),
                              ("warm", 32 // MULTIPLIER, base + 100 * _ID_STRIDE)):
                d = os.path.join(self.dir, sub)
                os.makedirs(d, exist_ok=True)
                pq.write_table(documents_table(rng, n, b), os.path.join(d, "documents.parquet"))
                pages = crawl_pages(os.path.join(d, "documents.parquet"))
                pq.write_table(pages, os.path.join(d, "pages_all.parquet"))
                _write_files(pages.select(["url", "lang", "html"]),
                             os.path.join(d, "pages"), self.n_files)
            self._prepare_extra(rng)
            open(done, "w").close()
        self.pages = pq.read_table(os.path.join(self.dir, "main", "pages_all.parquet"))
        self.expected = dict(zip(self.pages.column("url").to_pylist(),
                                 self.pages.column("expected").to_pylist()))

    def _prepare_extra(self, rng: random.Random) -> None:
        pass

    def docs(self) -> list[Doc]:
        """The documents one timed pass parses, as the UDF receives them."""
        return _docs_from_table(self.pages)

    def spelling_check(self, spark) -> int:
        d = os.path.join(self.dir, "warm")
        staged = pq.read_table(os.path.join(d, "pages_all.parquet"))
        return spark_spelling_mismatches(
            spark, os.path.join(d, "documents.parquet"), staged)


class CrawlOnepass(_CrawlBase):
    """Well-formed ~5 KB crawl pages through the production one-pass mode."""

    name = "crawl_onepass"
    include_links = True

    def run_pass(self, spark, sub: str = "main", tag: str = "", state_dir=None,
                 catalog=None) -> pa.Table:
        from htmlgraft.job import parse_extract

        res = parse_extract(
            spark.read.parquet(self.pages_dir(sub)),
            include_dom=True, include_links=True, pre_partitioned=True,
        )
        return self._collect(res)

    @staticmethod
    def _collect(res) -> pa.Table:
        from pyspark.sql import functions as F

        return res.select(
            "url", "status", "text",
            F.length("dom").alias("dom_len"), F.size("links").alias("n_links"),
        ).toArrow()

    def check(self, out: pa.Table) -> CheckResult:
        res = CheckResult(attempted=len(self.expected))
        rows = out.to_pydict()
        seen = set()
        for url, status, text, dom_len, n_links in zip(
                rows["url"], rows["status"], rows["text"], rows["dom_len"], rows["n_links"]):
            if url in seen or url not in self.expected:
                res.fail(1, f"unexpected or repeated url {url}")
                continue
            seen.add(url)
            if status == "ok":
                res.ok_docs += 1
            if status != "ok" or text != self.expected[url]:
                res.fail(1, f"text/status mismatch for {url} ({status})")
            elif n_links != CRAWL_LINKS_PER_PAGE or not dom_len:
                res.fail(1, f"links/dom mismatch for {url}: {n_links} links, dom {dom_len}")
        missing = len(self.expected) - len(seen)
        if missing:
            res.fail(missing, f"{missing} urls missing from the output")
        return res


class ResumeJob(_CrawlBase):
    """``run_job`` resuming over a state dir that already holds half the urls."""

    name = "resume_job"
    include_dom = False

    def _prepare_extra(self, rng: random.Random) -> None:
        pages = pq.read_table(os.path.join(self.dir, "main", "pages_all.parquet"))
        urls = pages.column("url").to_pylist()
        done = sorted(rng.sample(urls, len(urls) // 2))
        state = os.path.join(self.dir, "state_template", "state_urls")
        os.makedirs(state, exist_ok=True)
        pq.write_table(
            pa.table({"url": done, "part_id": pa.array([0] * len(done), pa.int64())}),
            os.path.join(state, "part-0000.parquet"),
        )

    def prepare(self) -> None:
        super().prepare()
        state = os.path.join(self.dir, "state_template", "state_urls", "part-0000.parquet")
        self.done_urls = set(pq.read_table(state).column("url").to_pylist())
        self.todo = {u: t for u, t in self.expected.items() if u not in self.done_urls}

    def docs(self) -> list[Doc]:
        return [d for d in _docs_from_table(self.pages) if d.url in self.todo]

    def fresh_state(self, tag: str) -> str:
        """Untimed: a private copy of the pre-seeded state dir."""
        out = os.path.join(self.dir, f"run-{tag}")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(os.path.join(self.dir, "state_template"), out)
        return out

    def run_pass(self, spark, sub: str = "main", tag: str = "", state_dir: str | None = None,
                 catalog=None) -> str:
        from htmlgraft.job import run_job

        run_job(
            spark, spark.read.parquet(self.pages_dir(sub)), state_dir,
            run_id=f"r{tag}", include_dom=False, resume=True, catalog=catalog,
        )
        return state_dir

    def output_rows(self, spark, out: str, tag: str) -> int:
        """Rows in the results partition the run ``tag`` wrote."""
        from htmlgraft.job import ParquetCatalog

        return ParquetCatalog(spark, out).read_run_results(f"r{tag}").count()

    def check(self, state_dir: str) -> CheckResult:
        import duckdb

        res = CheckResult(attempted=len(self.todo))
        con = duckdb.connect()
        try:
            rows = con.execute(
                "select url, status, text from read_parquet(?)",
                [os.path.join(state_dir, "results", "*", "*.parquet")],
            ).fetchall()
            state = sorted(u for (u,) in con.execute(
                "select url from read_parquet(?)",
                [os.path.join(state_dir, "state_urls", "*.parquet")],
            ).fetchall())
        finally:
            con.close()
        seen = set()
        for url, status, text in rows:
            if url in seen or url in self.done_urls or url not in self.todo:
                res.fail(1, f"url processed twice or unexpected: {url}")
                continue
            seen.add(url)
            if status == "ok":
                res.ok_docs += 1
            if status != "ok" or text != self.todo[url]:
                res.fail(1, f"text/status mismatch for {url} ({status})")
        missing = len(self.todo) - len(seen)
        if missing:
            res.fail(missing, f"{missing} urls missing from the results")
        if state != sorted(self.expected):
            res.fail(1, "state_urls is not exactly the seeded half plus this run")
        return res


# --------------------------------------------------------------------------
# hostile mix

def _load_tools():
    from tools import fuzz_diff, gen_adversarial_pages

    return fuzz_diff, gen_adversarial_pages


def _depth_of(dom: str) -> int:
    """Deepest element level of an html5lib-format dom print."""
    deepest = 0
    for line in dom.split("\n"):
        if line[:2] == "| ":
            body = line[2:]
            deepest = max(deepest, (len(body) - len(body.lstrip(" "))) // 2)
    return deepest


def _oversized_page(rng: random.Random, target: int, texts: list[str]) -> str:
    """A well-formed page of at least ``target`` bytes: paragraphs of
    seeded sf0.1 documents texts."""
    paras = []
    size = 0
    while size < target:
        p = "<p>" + rng.choice(texts) + "</p>"
        paras.append(p)
        size += len(p)
    return ("<!doctype html><html><head><title>big</title></head><body>"
            "<div id=main>" + "".join(paras) + "</div></body></html>")


class HostileMix(_Workload):
    """Many small malformed documents plus adversarial page families, in
    charset variants, with a few oversized pages on the salt lane."""

    name = "hostile_mix"
    include_dom = True
    include_links = False

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.caps = self.cfg["caps"]
        self.fixture_urls: dict[str, str] = {}

    def _generate(self, rng: random.Random, n_small: int, n_adv: int,
                  n_oversized: int, with_fixtures: bool) -> list[tuple]:
        fuzz_diff, adversarial = _load_tools()
        caps = self.caps
        rows = []  # (url, html_str, encoding, transport_label)
        for i in range(n_small):
            html = fuzz_diff.gen_doc(rng)
            if i % 50 == 7:
                # typed error lane: a JS Object.prototype-key end tag
                html += rng.choice(("</constructor>", "</valueOf>x</constructor>"))
            rows.append((f"https://hostile.example/small/{i}", html))
        fams = sorted(adversarial.FAMILIES)
        for i in range(n_adv):
            fam = fams[i % len(fams)]
            rows.append((f"https://hostile.example/{fam}/{i}",
                         adversarial.FAMILIES[fam](rng, (i // len(fams)) % 3)))
        texts = pq.read_table(DOCUMENTS, columns=["text"]).column("text").to_pylist()
        for i in range(n_oversized):
            rows.append((f"https://hostile.example/oversized/{i}",
                         _oversized_page(rng, caps["oversized_bytes"], texts)))
        if with_fixtures:
            for name in ("pages_sample.jsonl", "pages_adversarial.jsonl"):
                with open(os.path.join(ROOT, "fixtures", name), encoding="utf-8") as f:
                    for line in f:
                        r = json.loads(line)
                        url = f"https://fixture.example/{name}/{r['url']}"
                        self.fixture_urls[url] = r["url"]
                        rows.append((url, r["html"]))
        # charset variants: a seeded quarter of the pages is re-encoded
        out = []
        for url, html in rows:
            r = rng.random()
            hint = None
            if url in self.fixture_urls or "/oversized/" in url or r >= 0.4:
                raw = html.encode("utf-8")
            elif r < 0.1:
                raw = b"\xef\xbb\xbf" + html.encode("utf-8")
            elif r < 0.2:
                stripped = html.replace('<meta charset="utf-8">', "")
                raw = stripped.encode("cp1252", "xmlcharrefreplace")
            elif r < 0.3:
                raw = b"\xff\xfe" + html.encode("utf-16-le")
            else:
                raw = html.encode("utf-8")
                hint = rng.choice(("utf-8", "UTF-8", " utf8"))
            if len(raw) > caps["max_page_bytes"]:
                raise ValueError(f"generated page over the size cap: {url}")
            out.append((url, raw, hint))
        return out

    def prepare(self) -> None:
        rng = random.Random(f"{self.name}:{self.seed}")
        cfg = self.cfg
        main = self._generate(rng, cfg["small_docs"], cfg["adversarial_pages"],
                              cfg["oversized_pages"], True)
        warm = self._generate(rng, 24, 8, 0, False)
        done = os.path.join(self.dir, "READY")
        if not os.path.exists(done):
            for sub, rows in (("main", main), ("warm", warm)):
                table = pa.table({
                    "url": [r[0] for r in rows],
                    "lang": ["en"] * len(rows),
                    "html": pa.array([r[1] for r in rows], pa.binary()),
                    "charset": pa.array([r[2] for r in rows], pa.string()),
                })
                _write_files(table, os.path.join(self.dir, sub, "pages"), self.n_files)
            open(done, "w").close()
        self._docs = [Doc(u, raw, hint) for u, raw, hint in main]
        self.expected = None

    def docs(self) -> list[Doc]:
        return self._docs

    def run_pass(self, spark, sub: str = "main", tag: str = "", state_dir=None,
                 catalog=None) -> pa.Table:
        from htmlgraft.job import parse_extract

        res = parse_extract(spark.read.parquet(self.pages_dir(sub)),
                            include_dom=True, pre_partitioned=False)
        return self._collect(res)

    @staticmethod
    def _collect(res) -> pa.Table:
        from pyspark.sql import functions as F

        return res.select(
            "url", "status", "text", "n_tokens", "n_nodes",
            F.md5("dom").alias("dom_md5"),
        ).toArrow()

    def build_oracle(self) -> list[str]:
        """In-process expected rows, plus the golden-tree and size-cap
        checks; returns a list of problems (empty when all hold)."""
        from htmlgraft.encoding import decode_html
        from htmlgraft.job import parse_document
        from htmlgraft.parse import parse
        from htmlgraft.walk import tree_to_jsonable

        problems = []
        caps = self.caps
        expected = {}
        for d in self._docs:
            try:
                dom, text, n_tok, n_nodes, status = parse_document(
                    decode_html(d.raw, transport=d.charset), True)
            except Exception as exc:  # the pipeline's typed error lane
                dom, text, n_tok, n_nodes = "", "", 0, 0
                status = f"error:{type(exc).__name__}"
            if len(dom) > caps["max_dom_bytes"] or _depth_of(dom) > caps["max_depth"]:
                problems.append(f"{d.url} exceeds the dom caps")
            expected[d.url] = (status, text, n_tok, n_nodes,
                               hashlib.md5(dom.encode("utf-8")).hexdigest())
        self.expected = expected
        golden = {}
        for name in ("pages_trees.jsonl", "pages_adversarial_trees.jsonl"):
            with open(os.path.join(ROOT, "fixtures", name), encoding="utf-8") as f:
                for line in f:
                    r = json.loads(line)
                    golden[r["id"]] = r["tree"]
        for url, fid in self.fixture_urls.items():
            raw = next(d.raw for d in self._docs if d.url == url)
            tree = json.loads(json.dumps(tree_to_jsonable(parse(decode_html(raw)))))
            if tree != golden.get(fid):
                problems.append(f"fixture {fid} differs from its golden tree")
        return problems

    def check(self, out: pa.Table) -> CheckResult:
        res = CheckResult(attempted=len(self.expected))
        rows = out.to_pydict()
        seen = set()
        for got in zip(rows["url"], rows["status"], rows["text"], rows["n_tokens"],
                       rows["n_nodes"], rows["dom_md5"]):
            url = got[0]
            if url in seen or url not in self.expected:
                res.fail(1, f"unexpected or repeated url {url}")
                continue
            seen.add(url)
            if got[1] == "ok":
                res.ok_docs += 1
            if tuple(got[1:]) != self.expected[url]:
                res.fail(1, f"output differs from in-process parse for {url}")
        missing = len(self.expected) - len(seen)
        if missing:
            res.fail(missing, f"{missing} urls missing from the output")
        return res


WORKLOADS = {w.name: w for w in (CrawlOnepass, ResumeJob, HostileMix)}
