"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical files.  Besides the input files, each generator writes
`truth.json` (pipeline_paired, corpus_prep) or `queries.tsv` (sql_tools)
with what the harness needs to check the program's outputs.  The program
under test only ever sees the input files.
"""

import hashlib
import json
import os
import random

BASES = "ACGT"
COMP = str.maketrans("ACGT", "TGCA")
# byte -> base, and byte -> quality character in 35..74 ('#'..'J')
_BASE_OF = bytes(ord(BASES[b & 3]) for b in range(256))
_QUAL_OF = bytes(35 + b % 40 for b in range(256))
_GOOD_OF = bytes(70 + b % 5 for b in range(256))  # 'F'..'J'
_BAD_OF = bytes(35 + b % 9 for b in range(256))  # '#'..'+'


def _dna(r, n):
    return r.randbytes(n).translate(_BASE_OF).decode()


def _qual(r, n):
    return r.randbytes(n).translate(_QUAL_OF).decode()


def _rng(seed, name):
    return random.Random(f"vbench:{name}:{seed}")


def _h(*parts):
    """Stable 64-bit hash of the parts (independent of PYTHONHASHSEED)."""
    d = hashlib.blake2b("\x1f".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(d.digest(), "big")


def _write_lines(path, lines):
    with open(path, "w", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")


def digest_rows(rows):
    """Order-insensitive digest of canonical rows; the harness computes
    the same function over the program's output (Common.digestRows)."""
    canon = sorted("\t".join(_canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.4f}"
    return str(v)


# --------------------------------------------------------------------------
# pipeline_paired: paired FASTQ from a seeded random genome


PIPE_SAMPLES = ["SRR101", "SRR202", "SRR303"]


def _good_qual(r, n):
    q = bytearray(r.randbytes(n).translate(_GOOD_OF))
    for _ in range(r.randint(0, 3)):  # a few low bases, well under the cap
        q[r.randrange(n)] = ord("#")
    return q.decode()


def _bad_qual(r, n):
    return r.randbytes(n).translate(_BAD_OF).decode()


def gen_pipeline(out, seed, pairs, nfiles):
    """Paired FASTQ over `nfiles` files per mate.

    Planted: ~2% orphans (one mate missing), ~5% low-quality pairs (a
    third of them with only one failing mate), three sample prefixes,
    read lengths 80..149, and a 300 bp repeat that ~10% of pairs are
    drawn from, so its k-mers exceed the normalization band.
    """
    r = _rng(seed, "pipeline")
    genome = _dna(r, pairs * 10 + 2000)
    repeat = genome[:300]
    r1 = [[] for _ in range(nfiles)]
    r2 = [[] for _ in range(nfiles)]
    orphans = lowq = 0
    for i in range(pairs):
        l1, l2 = r.randint(80, 149), r.randint(80, 149)
        if r.random() < 0.10:
            src, p = repeat, r.randrange(0, 300 - 150)
            ins = 0
        else:
            src, p = genome, r.randrange(300, len(genome) - 500)
            ins = r.randint(150, 300)
        m1 = src[p:p + l1]
        m2 = src[p + ins:p + ins + l2][::-1].translate(COMP)
        name = f"{PIPE_SAMPLES[i % 3]}:1:{1101 + i % 16}:{i}"
        kind = r.random()
        if kind < 0.02:
            orphan, q1, q2 = True, _good_qual(r, l1), _good_qual(r, l2)
        elif kind < 0.07:
            orphan = False
            mode = r.randrange(3)  # 0: mate 1 fails, 1: mate 2, 2: both
            q1 = _bad_qual(r, l1) if mode != 1 else _good_qual(r, l1)
            q2 = _bad_qual(r, l2) if mode != 0 else _good_qual(r, l2)
            lowq += 1
        else:
            orphan, q1, q2 = False, _good_qual(r, l1), _good_qual(r, l2)
        f = i % nfiles
        if orphan:
            orphans += 1
            if r.random() < 0.5:
                r1[f] += [f"@{name}/1", m1, "+", q1]
            else:
                r2[f] += [f"@{name}/2", m2, "+", q2]
        else:
            r1[f] += [f"@{name}/1", m1, "+", q1]
            r2[f] += [f"@{name}/2", m2, "+", q2]
    for mate, files in (("r1", r1), ("r2", r2)):
        os.makedirs(os.path.join(out, mate))
        for f, lines in enumerate(files):
            _write_lines(os.path.join(out, mate, f"part-{f:03d}.fastq"), lines)
    truth = {"pairs": pairs, "orphans": orphans, "low_quality_pairs": lowq,
             "aligned": 2 * (pairs - orphans - lowq)}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


# --------------------------------------------------------------------------
# sql_tools: FASTQ with Illumina headers, SAM text, BLAST outfmt 6


def _fastq_records(r, n):
    recs = []
    for i in range(n):
        instr = f"M0{r.randrange(2)}"
        run, fc = r.randint(1, 3), f"FC{r.randrange(2)}X"
        lane, tile = r.randint(1, 8), 1101 + r.randrange(16)
        x, y = r.randrange(30000), r.randrange(30000)
        read = 1 + r.randrange(2)
        filt = "Y" if r.random() < 0.1 else "N"
        index = r.choice(["ACGTAC", "TTAGGC", "CAGATC", "GGCTAC"])
        ln = r.randint(60, 150)
        seq, qual = _dna(r, ln), _qual(r, ln)
        key = f"{instr}:{run}:{fc}:{lane}:{tile}:{x}:{y} {read}:{filt}:0:{index}"
        recs.append({"key": key, "sequence": seq, "quality": qual,
                     "lane": lane, "tile": tile, "filterPassed": filt == "N",
                     "instrument": instr, "read": read})
    return recs


def _sam_records(r, n):
    recs = []
    for i in range(n):
        flag = 0
        for bit, p in ((1, 0.8), (2, 0.6), (4, 0.15), (16, 0.5), (64, 0.5),
                       (1024, 0.05)):
            if r.random() < p:
                flag |= bit
        if flag & 1 and not flag & 64:
            flag |= 128
        unmapped = bool(flag & 4)
        rname = "*" if unmapped else f"chr{r.randint(1, 6)}"
        pos = 0 if unmapped else r.randint(1, 200000)
        mapq = 0 if unmapped else r.randint(0, 60)
        ln = r.randint(50, 150)
        seq, qual = _dna(r, ln), _qual(r, ln)
        recs.append({"qname": f"read{i:07d}", "flag": flag, "rname": rname,
                     "pos": pos, "mapq": mapq, "cigar": "*" if unmapped else f"{ln}M",
                     "seq": seq, "qual": qual})
    return recs


def _blast_records(r, n):
    recs = []
    for i in range(n):
        ln = r.randint(40, 400)
        qs = r.randint(1, 200)
        recs.append({"qseqid": f"contig_{r.randrange(n // 3)}",
                     "sseqid": f"NC_{r.randrange(60):06d}",
                     "pident": round(r.uniform(60, 100), 2), "length": ln,
                     "mismatch": r.randrange(20), "gapopen": r.randrange(4),
                     "qstart": qs, "qend": qs + ln - 1,
                     "sstart": r.randint(1, 9000), "send": r.randint(1, 9000),
                     "evalue": float(f"{r.uniform(1, 9):.1f}e-{r.randint(2, 80)}"),
                     "bitscore": round(r.uniform(30, 700), 1)})
    return recs


def _split_write(out, name, header, lines, nfiles):
    os.makedirs(os.path.join(out, name))
    for f in range(nfiles):
        _write_lines(os.path.join(out, name, f"part-{f:03d}.txt"),
                     header + lines[f::nfiles])


def _sql_queries(r, fq, sam, bl, count):
    """A seeded query mix with each query's expected result digest.

    Returns rows (qid, source, out_format, sql, n_rows, digest)."""
    out = []
    kinds = ["fq_motif", "fq_tile", "fq_lowq", "fq_write", "sam_mapped",
             "sam_reverse", "sam_write", "blast_topk", "blast_best",
             "fq_index"]
    for qi in range(count):
        kind = kinds[qi % len(kinds)]
        if kind == "fq_motif":
            motif = "".join(r.choice(BASES) for _ in range(5))
            sql = (f"SELECT lane, count(*) AS n FROM records "
                   f"WHERE sequence LIKE '%{motif}%' GROUP BY lane")
            rows = _group_count([x["lane"] for x in fq if motif in x["sequence"]])
            src, fmt = "fastq", ""
        elif kind == "fq_tile":
            sql = ("SELECT tile, count(*) AS n, sum(length(sequence)) AS bases "
                   "FROM records WHERE filterPassed GROUP BY tile")
            acc = {}
            for x in fq:
                if x["filterPassed"]:
                    n, b = acc.get(x["tile"], (0, 0))
                    acc[x["tile"]] = (n + 1, b + len(x["sequence"]))
            rows = [(k, n, b) for k, (n, b) in acc.items()]
            src, fmt = "fastq", ""
        elif kind == "fq_lowq":
            run = r.choice("#$&") * 3  # '%' would be a LIKE wildcard
            sql = (f"SELECT instrument, read, count(*) AS n FROM records "
                   f"WHERE quality LIKE '%{run}%' GROUP BY instrument, read")
            rows = _group_count([(x["instrument"], x["read"]) for x in fq
                                 if run in x["quality"]])
            src, fmt = "fastq", ""
        elif kind == "fq_index":
            lane = r.randint(1, 8)
            sql = (f"SELECT indexSequence, count(*) AS n, max(length(sequence)) AS mx "
                   f"FROM records WHERE lane = {lane} GROUP BY indexSequence")
            acc = {}
            for x in fq:
                if x["lane"] == lane:
                    idx = x["key"].rsplit(":", 1)[1]
                    n, m = acc.get(idx, (0, 0))
                    acc[idx] = (n + 1, max(m, len(x["sequence"])))
            rows = [(k, n, m) for k, (n, m) in acc.items()]
            src, fmt = "fastq", ""
        elif kind == "fq_write":
            lane, pre = r.randint(1, 8), "".join(r.choice(BASES) for _ in range(2))
            sql = (f"SELECT key, sequence, quality FROM records "
                   f"WHERE lane = {lane} AND sequence LIKE '{pre}%'")
            rows = [(x["key"], x["sequence"], x["quality"]) for x in fq
                    if x["lane"] == lane and x["sequence"].startswith(pre)]
            src, fmt = "fastq", "fastq"
        elif kind == "sam_mapped":
            mq = r.randint(10, 50)
            sql = (f"SELECT referenceName, count(*) AS n, min(start) AS lo "
                   f"FROM records WHERE (flag & 4) = 0 AND mapq >= {mq} "
                   f"GROUP BY referenceName")
            acc = {}
            for x in sam:
                if not x["flag"] & 4 and x["mapq"] >= mq:
                    n, lo = acc.get(x["rname"], (0, 1 << 40))
                    acc[x["rname"]] = (n + 1, min(lo, x["pos"]))
            rows = [(k, n, lo) for k, (n, lo) in acc.items()]
            src, fmt = "sam", ""
        elif kind == "sam_reverse":
            bit = r.choice([16, 64, 1024])
            sql = (f"SELECT referenceName, count(*) AS n FROM records "
                   f"WHERE (flag & {bit}) != 0 AND NOT readUnmapped "
                   f"GROUP BY referenceName")
            rows = _group_count([x["rname"] for x in sam
                                 if x["flag"] & bit and not x["flag"] & 4])
            src, fmt = "sam", ""
        elif kind == "sam_write":
            chrom = f"chr{r.randint(1, 6)}"
            lo = r.randint(1, 150000)
            hi = lo + 40000
            sql = (f"SELECT readName, referenceName, start, mapq FROM records "
                   f"WHERE referenceName = '{chrom}' AND start BETWEEN {lo} AND {hi}")
            rows = [(x["qname"], x["rname"], x["pos"], x["mapq"]) for x in sam
                    if x["rname"] == chrom and lo <= x["pos"] <= hi]
            src, fmt = "sam", "parquet"
        elif kind == "blast_topk":
            p = r.randint(70, 95)
            e = f"1e-{r.randint(5, 40)}"
            k = r.randint(5, 25)
            sql = (f"SELECT qseqid, sseqid, bitscore FROM records "
                   f"WHERE pident >= {p} AND evalue <= {e} "
                   f"ORDER BY bitscore DESC, qseqid, sseqid, qstart LIMIT {k}")
            ev = float(e)
            sel = [x for x in bl if x["pident"] >= p and x["evalue"] <= ev]
            sel.sort(key=lambda x: (-x["bitscore"], x["qseqid"], x["sseqid"],
                                    x["qstart"]))
            rows = [(x["qseqid"], x["sseqid"], x["bitscore"]) for x in sel[:k]]
            src, fmt = "blast", ""
        else:  # blast_best
            e = f"1e-{r.randint(5, 30)}"
            sql = (f"SELECT qseqid, count(*) AS hits, max(pident) AS best "
                   f"FROM records WHERE evalue < {e} GROUP BY qseqid "
                   f"HAVING count(*) >= 2")
            ev = float(e)
            acc = {}
            for x in bl:
                if x["evalue"] < ev:
                    n, b = acc.get(x["qseqid"], (0, 0.0))
                    acc[x["qseqid"]] = (n + 1, max(b, x["pident"]))
            rows = [(k, n, b) for k, (n, b) in acc.items() if n >= 2]
            src, fmt = "blast", ""
        out.append((f"q{qi:02d}_{kind}", src, fmt, sql, len(rows),
                    digest_rows(rows)))
    return out


def _group_count(keys):
    acc = {}
    for k in keys:
        acc[k] = acc.get(k, 0) + 1
    return [(*k, n) if isinstance(k, tuple) else (k, n) for k, n in acc.items()]


def gen_sql(out, seed, reads, alignments, hits, nfiles, mix):
    r = _rng(seed, "sql")
    fq = _fastq_records(r, reads)
    sam = _sam_records(r, alignments)
    bl = _blast_records(r, hits)
    _split_write(out, "fastq", [], [
        f"@{x['key']}\n{x['sequence']}\n+\n{x['quality']}" for x in fq], nfiles)
    sam_header = ["@HD\tVN:1.6\tSO:unsorted"] + [
        f"@SQ\tSN:chr{c}\tLN:250000" for c in range(1, 7)]
    _split_write(out, "sam", sam_header, [
        f"{x['qname']}\t{x['flag']}\t{x['rname']}\t{x['pos']}\t{x['mapq']}\t"
        f"{x['cigar']}\t*\t0\t0\t{x['seq']}\t{x['qual']}" for x in sam], nfiles)
    _split_write(out, "blast", [], [
        f"{x['qseqid']}\t{x['sseqid']}\t{x['pident']:.2f}\t{x['length']}\t"
        f"{x['mismatch']}\t{x['gapopen']}\t{x['qstart']}\t{x['qend']}\t"
        f"{x['sstart']}\t{x['send']}\t{x['evalue']:.1e}\t{x['bitscore']:.1f}"
        for x in bl], nfiles)
    queries = _sql_queries(r, fq, sam, bl, mix)
    _write_lines(os.path.join(out, "queries.tsv"),
                 ["\t".join(map(str, q)) for q in queries])
    return queries


# --------------------------------------------------------------------------
# corpus_prep: word-resampled documents in the shape of the sf documents
# table (31-word vocabulary, 10..100 words, five language labels, ten
# sources, ~5% planted near-duplicates, PII planted like q217)


VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]
MARKERS = {"de": ["der", "die", "und", "das"], "es": ["el", "la", "los", "que"],
           "fr": ["le", "les", "et", "des"]}


def _lang(seed, i):
    x = _h(seed, i, "lang") % 100
    for lang, w in LANGS:
        if x < w:
            return lang
        x -= w
    return "en"


def gen_corpus(out, seed, docs, nfiles):
    rows = []
    texts = []
    for i in range(docs):
        n = 10 + _h(seed, i, "len") % 91
        words = [VOCAB[_h(seed, i, p) % len(VOCAB)] for p in range(n)]
        lang = _lang(seed, i)
        if i > 0 and _h(seed, i, "dup") % 20 == 0:
            # near-duplicate of an earlier document: one word changed
            j = _h(seed, i, "src") % i
            words = list(texts[j])
            words[_h(seed, i, "pos") % len(words)] = "dup"
        elif lang in MARKERS and _h(seed, i, "mark") % 3 == 0:
            for m in range(2):
                p = _h(seed, i, "mpos", m) % len(words)
                words[p] = MARKERS[lang][_h(seed, i, "mw", m) % 4]
        texts.append(words)
        text = " ".join(words)
        if i % 3 == 0:
            text += f" contact user{i}@mail.example.com now"
        if i % 4 == 0:
            text += f" call 555-{i % 1000:03d}-4321 today"
        rows.append(json.dumps({"doc_id": i, "text": text, "lang": lang,
                                "source": f"src{i % 10}"}, sort_keys=True))
    os.makedirs(os.path.join(out, "docs"))
    for f in range(nfiles):
        _write_lines(os.path.join(out, "docs", f"part-{f:03d}.json"), rows[f::nfiles])
    truth = {"docs": docs}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
