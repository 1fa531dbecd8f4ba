"""Seeded input generator for the benchmark workloads.

Owned by the benchmark on purpose: it imports nothing from the program,
so a later change to ``sources`` cannot move a workload. Every value is
a function of the seed (``random.Random``), never of the host.

Markup is built from segments whose visible text is known at generation
time, so each markup turn carries an independent expected
``extracted_text`` under ``EXTRACT_CONFIG`` (script/style dropped,
entities decoded, ``img`` textified to its alt, a space for every
non-phrase tag and ``br``). The checks compare every output row against
it.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])

DOCUMENT_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])

FILES = 8   # parquet files per transcripts input

# Workload knobs. event_fanout reads the markup_dense input.
PARAMS = {
    "markup_dense": dict(n_turns=6_000, plain_share=0.0,
                         segments=(1, 4), tail_alpha=2.5,
                         dup_share=0.02, n_convs=2_000, zipf_s=1.1),
    "prose_dominant": dict(n_turns=20_000, plain_share=0.9,
                           segments=(2, 6), tail_alpha=1.3,
                           dup_share=0.02, n_convs=5_000, zipf_s=1.1),
    "curation_funnel": dict(n_docs=400, clusters=16,
                            cluster_size=(2, 4)),
}
PARAMS["event_fanout"] = PARAMS["markup_dense"]

LANG_MIX = (("en", 0.55), ("fr", 0.1), ("de", 0.1), ("es", 0.1),
            ("zh", 0.08), ("ja", 0.07))

VOCAB = {
    "en": ("the of and to in is that for it with as was on be at by this "
           "are from have not data model system query spark table value "
           "result paper user answer question time people world because "
           "about which their there would should could other after first "
           "where between under while these those every during across "
           "transcript parser token stream column engine schema cluster "
           "reader writer output input memory disk network latency batch "
           "simple useful careful measure report record window market "
           "history river garden summer winter morning evening story "
           "teacher student library village travel kitchen weather").split(),
    "fr": ("les le la et de je que nous vous sont pour dans avec une des "
           "leur ont ils elle mais tout plus fait comme aussi bien jour "
           "maison travail heure ville monde temps chose homme femme "
           "peut sans encore toujours").split(),
    "de": ("der die und ein ich nicht sich mit auf dem den das ist von "
           "schnell schon zeitung ordnung richtung welt stadt haus zeit "
           "leute arbeit machen sehr auch noch nach eine einer recht "
           "sicht licht nacht").split(),
    "es": ("el los la que y de en para todos las por con una del como "
           "pero cuando donde mundo tiempo casa ciudad trabajo estado "
           "haciendo pasado lado nada todo entonces siempre").split(),
}
CJK = {
    "zh": ("我们", "他们", "这个", "什么", "没有", "一个", "是一", "的一",
           "时间", "世界", "工作", "问题", "数据", "城市"),
    "ja": ("です", "ます", "した", "いる", "ある", "この", "それ", "して",
           "という", "時間", "世界", "仕事", "問題", "都市"),
}

# (html, visible text) for the markup vocabulary; entity spellings are
# decoded by the reference decoder exactly as written here.
NAMED_ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                  ("&quot;", '"'), ("&nbsp;", "\xa0"), ("&eacute;", "é"),
                  ("&copy;", "©"), ("&mdash;", "—"), ("&hellip;", "…"),
                  ("&euro;", "€"), ("&aring;", "å"), ("&rsquo;", "’"))
NUMERIC_ENTITIES = (("&#229;", "å"), ("&#8212;", "—"), ("&#x2014;", "—"),
                    ("&#39;", "'"), ("&#x4E2D;", "中"), ("&#128578;", "🙂"),
                    ("&#169;", "©"))
PHRASE = ("b", "i", "em", "strong", "code", "span", "a", "small", "u")
BLOCK = ("p", "div", "h1", "h2", "h3", "blockquote", "section")
# separators for plain prose: ASCII and non-ASCII whitespace, emoji
PROSE_SEPS = (" ",) * 12 + ("\r\n", "\n", "\xa0", "　", "  ", "\t",
                            " 🙂 ", " 🚀 ")


class Markup:
    """Accumulates (html, expected visible text) side by side."""

    __slots__ = ("html", "text")

    def __init__(self):
        self.html: list[str] = []
        self.text: list[str] = []

    def add(self, html: str, text: str = ""):
        self.html.append(html)
        self.text.append(text)

    def tag(self, html: str, phrase: bool):
        # get_text appends one space for every non-phrase tag
        self.add(html, "" if phrase else " ")


def _sentence(rng: random.Random, words, n: int) -> str:
    s = " ".join(rng.choice(words) for _ in range(n))
    return s[0].upper() + s[1:] + "."


def _inline(rng: random.Random, m: Markup, n: int):
    en = VOCAB["en"]
    for k in range(n):
        if k:
            m.add(" ", " ")
        r = rng.random()
        w = rng.choice(en)
        if r < 0.55:
            m.add(w, w)
        elif r < 0.75:
            t = rng.choice(PHRASE)
            if t == "a":
                m.tag(f'<a href="/u/{rng.randrange(999)}">', True)
            elif t == "span":
                m.tag(f'<span class="k{rng.randrange(9)}">', True)
            else:
                m.tag(f"<{t.upper() if rng.random() < 0.1 else t}>", True)
            m.add(w, w)
            m.tag(f"</{t}>", True)
        elif r < 0.87:
            h, v = rng.choice(NAMED_ENTITIES)
            m.add(w + h, w + v)
        elif r < 0.95:
            h, v = rng.choice(NUMERIC_ENTITIES)
            m.add(h + w, v + w)
        elif r < 0.98:
            m.add(f"{w} & {w}", f"{w} & {w}")
        else:
            m.add(f"{w} > {k}", f"{w} > {k}")


def _segment(rng: random.Random) -> tuple[str, str]:
    m = Markup()
    r = rng.random()
    if r < 0.35:
        t = rng.choice(BLOCK)
        attrs = f' class="c{rng.randrange(20)}"' if rng.random() < 0.3 else ""
        m.tag(f"<{t}{attrs}>", False)
        _inline(rng, m, rng.randint(4, 30))
        m.tag(f"</{t}>", False)
    elif r < 0.45:
        m.tag("<ul>", False)
        for _ in range(rng.randint(2, 5)):
            m.tag("<li>", False)
            _inline(rng, m, rng.randint(2, 8))
            m.tag("</li>", False)
        m.tag("</ul>", False)
    elif r < 0.55:
        m.tag('<table class="grid">', False)
        for _ in range(rng.randint(1, 4)):
            m.tag("<tr>", False)
            for _ in range(rng.randint(2, 4)):
                m.tag("<td>", False)
                _inline(rng, m, rng.randint(1, 3))
                m.tag("</td>", False)
            m.tag("</tr>", False)
        m.tag("</table>", False)
    elif r < 0.63:
        m.add(f"<!-- note {rng.randrange(10_000)}: "
              f"{rng.choice(VOCAB['en'])} -->")
    elif r < 0.71:
        m.add(f'<script type="text/javascript">var x{rng.randrange(99)} = '
              f'1 < 2 && a > b; s = "<b>{rng.choice(VOCAB["en"])}</b>";'
              f"</script>")
    elif r < 0.77:
        m.add(f"<style>.c{rng.randrange(20)} {{ color: red }} p > b "
              f"{{ margin: 0 }}</style>")
    elif r < 0.85:
        if rng.random() < 0.8:
            alt = " ".join(rng.choice(VOCAB["en"])
                           for _ in range(rng.randint(1, 4)))
            m.add(f'<img src="img{rng.randrange(999)}.png" alt="{alt}">',
                  alt)
        else:
            m.add(f'<img src="img{rng.randrange(999)}.png">', "[IMG]")
    elif r < 0.9:
        # br is phrase markup, yet get_text still gives it a space
        m.tag("<br>", False)
        m.add(" ", " ")
        m.tag("<br>", False)
    else:
        _inline(rng, m, rng.randint(3, 12))
    if rng.random() < 0.3:
        m.add("\n", "\n")
    return "".join(m.html), "".join(m.text)


def _zipf_picker(rng: random.Random, n: int, s: float):
    cum = list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))
    total = cum[-1]
    return lambda: bisect.bisect_left(cum, rng.random() * total)


def _tail_count(rng: random.Random, lo: int, hi: int, alpha: float,
                cap: int) -> int:
    """Segment or sentence count: uniform body, Pareto tail."""
    k = rng.randint(lo, hi)
    if rng.random() < 0.1:
        k += int(rng.paretovariate(alpha) * hi)
    return min(k, cap)


def documents(seed: int, n_docs: int, clusters: int = 0,
              cluster_size: tuple[int, int] = (2, 4)):
    """Multilingual documents with planted near-duplicate clusters.

    Returns (table, clusters) where clusters lists the doc_ids of each
    planted cluster. Members share one ~100-word English prose body;
    some change a single word. Each pair keeps a 3-word-shingle Jaccard
    similarity near 0.9, where the curation job's LSH (4 bands of 2
    hashes) finds it with probability above 0.99.
    """
    rng = random.Random(f"docs:{seed}")
    langs = [lang for lang, _ in LANG_MIX]
    weights = [w for _, w in LANG_MIX]
    texts: list[str] = []
    lang_col: list[str] = []
    plan: list[list[int]] = []
    for c in range(clusters):
        body = [_sentence(rng, VOCAB["en"], rng.randint(8, 16))
                for _ in range(rng.randint(9, 12))]
        members = []
        for _ in range(rng.randint(*cluster_size)):
            words = " ".join(body).split(" ")
            if members and rng.random() < 0.5:
                words[rng.randrange(len(words))] = rng.choice(VOCAB["en"])
            members.append(len(texts))
            texts.append(" ".join(words))
            lang_col.append("en")
        plan.append(members)
    while len(texts) < n_docs:
        lang = rng.choices(langs, weights)[0]
        n_sent = _tail_count(rng, 2, 5, 1.5, 20)
        if lang in CJK:
            grams = CJK[lang]
            text = "。".join("".join(rng.choice(grams)
                                     for _ in range(rng.randint(6, 20)))
                             for _ in range(n_sent)) + "。"
        else:
            text = " ".join(_sentence(rng, VOCAB[lang], rng.randint(6, 18))
                            for _ in range(n_sent))
        texts.append(text)
        lang_col.append(lang)
    # scatter cluster members over the corpus
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    texts = [texts[i] for i in order]
    lang_col = [lang_col[i] for i in order]
    plan = [sorted(new_id[m] for m in members) for members in plan]
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": lang_col,
        "source": [f"src{i % 7}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOCUMENT_SCHEMA)
    return table, plan


def transcripts(seed: int, n_turns: int, plain_share: float,
                segments: tuple[int, int], tail_alpha: float,
                dup_share: float, n_convs: int, zipf_s: float):
    """Transcripts table plus the expected extraction of every turn.

    Returns (table, expected, plain, dup_pairs): ``expected[i]`` is the
    visible text of turn i, ``plain[i]`` marks turns with neither '<'
    nor '&', ``dup_pairs`` lists (i, j) row pairs planted as near
    duplicates.
    """
    rng = random.Random(f"turns:{seed}")
    rnd = rng.random
    pool = [_segment(rng) for _ in range(2_000)]
    sentences = []
    if plain_share:
        # plain prose is cut from a generated documents table
        docs, _ = documents(seed, 1_000)
        sentences = [s.strip() + "."
                     for t in docs.column("text").to_pylist()
                     for s in t.replace("。", ".").split(".") if s.strip()]
    conv = _zipf_picker(rng, n_convs, zipf_s)
    next_turn = [0] * n_convs
    conv_col, turn_col, role_col, text_col, tool_col = [], [], [], [], []
    expected, plain, dup_pairs = [], [], []
    lo, hi = segments
    n_pool, n_sent, n_sep = len(pool), len(sentences), len(PROSE_SEPS)
    for i in range(n_turns):
        c = conv()
        conv_col.append(f"conv-{c:05d}")
        turn_col.append(next_turn[c])
        next_turn[c] += 1
        role = ("user", "assistant", "tool")[int(rnd() * 3)]
        role_col.append(role)
        tool_col.append("search" if role == "tool" else None)
        if i and rnd() < dup_share:
            j = int(rnd() * i)
            dup_pairs.append((j, i))
            suffix = f" {rng.choice(VOCAB['en'])}"
            text_col.append(text_col[j] + suffix)
            expected.append(expected[j] + suffix)
            plain.append(plain[j])
        elif rnd() < plain_share:
            n = _tail_count(rng, 1, 6, tail_alpha, 80)
            parts = [sentences[int(rnd() * n_sent)]]
            for _ in range(n - 1):
                parts.append(PROSE_SEPS[int(rnd() * n_sep)])
                parts.append(sentences[int(rnd() * n_sent)])
            t = "".join(parts)
            text_col.append(t)
            expected.append(t)
            plain.append(True)
        else:
            n = _tail_count(rng, lo, hi, tail_alpha, 120)
            segs = [pool[int(rnd() * n_pool)] for _ in range(n)]
            # a per-turn paragraph keeps every payload distinct
            text_col.append(f"<p>{role} turn {i}</p>"
                            + "".join([h for h, _ in segs]))
            expected.append(f" {role} turn {i} "
                            + "".join([t for _, t in segs]))
            plain.append(False)
    table = pa.table({
        "conv_id": conv_col,
        "turn_idx": pa.array(turn_col, pa.int32()),
        "role": role_col,
        "text": text_col,
        "tool": tool_col,
        "ts": pa.array([1_767_225_600_000_000 + k * 1_000_000
                        for k in range(n_turns)], pa.timestamp("us")),
    }, schema=TRANSCRIPT_SCHEMA)
    return table, expected, plain, dup_pairs


def write_files(table: pa.Table, out_dir: str, files: int,
                name: str = "part") -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    paths = []
    for k in range(files):
        path = os.path.join(out_dir, f"{name}-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), path)
        paths.append(path)
    return paths


def write_documents(table: pa.Table, out_dir: str) -> str:
    """One ``documents.parquet``, the layout run_curation.py reads."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return path


def describe(table: pa.Table, plain) -> dict:
    """Input record: turn count, bytes and plain-text share."""
    return {
        "turns": table.num_rows,
        "text_bytes": pc.sum(pc.binary_length(table.column("text"))).as_py(),
        "plain_share": sum(plain) / max(len(plain), 1),
    }
