"""Seeded generator for a reference-shaped Discogs `releases.xml.gz`.

One release per line, as in the real dumps and as `DiscogsReleases`
expects. Each release carries the elements the converter keeps (id,
status, title, artists, genres, styles, labels, master_id) and the
subtrees it skips: the release-level images, extraartists, formats,
country, released, notes, data_quality, tracklist, identifiers,
videos and companies, plus `role`/`tracks` inside each artist. As in
real dumps, most bytes sit in the skipped subtrees.

The seed draws every per-release count (artists, labels, genres,
styles, skipped-subtree sizes), whether a release has a master_id,
and where entities and non-ASCII text appear. The distributions
themselves are fixed, so dumps from different seeds have the same
shape and size up to sampling noise.

Returns the expected aggregates of the converted Parquet and the
shape statistics of the dump.
"""
import gzip
import hashlib
import random
from xml.sax.saxutils import escape

STATUSES = ["Accepted"] * 94 + ["Draft"] * 4 + ["Deleted"] * 2
GENRES = ["Electronic", "Rock", "Pop", "Jazz", "Hip Hop", "Funk / Soul",
          "Classical", "Folk, World, & Country", "Reggae", "Latin",
          "Stage & Screen", "Blues", "Non-Music", "Children's", "Brass & Military"]
STYLES = ["House", "Techno", "Deep House", "Ambient", "Indie Rock", "Punk",
          "Synth-pop", "Disco", "Soul", "Hard Rock", "Drum n Bass", "Dub",
          "Experimental", "Trance", "Minimal", "Noise", "Drone", "Electro",
          "Garage Rock", "Downtempo", "Breakbeat", "Acid Jazz", "Big Beat"]
WORDS = ["love", "night", "dance", "blue", "heart", "city", "dream", "fire",
         "summer", "light", "Stockholm", "Östermalm", "Zürich", "São Paulo",
         "Über", "Café", "日本", "Москва", "Ελλάδα", "naïve", "fiancée",
         "rock", "soul", "remix", "dub", "version", "edit", "mix", "live"]
SPECIALS = ["&", "<", ">", '"', "'"]
JOINS = ["", "", "", "&", ",", "feat.", "vs.", "and", "/"]
ROLES = ["Producer", "Written-By", "Mixed By", "Mastered By",
         "Design [Sleeve]", "Photography By", "Vocals", "Engineer",
         "Lacquer Cut By", "Remix", "Bass", "Drums", "Guitar"]
FORMATS = ["Vinyl", "CD", "Cassette", "File", "Box Set"]
FORMAT_DESCS = ['12"', "33 ⅓ RPM", "LP", "Album", "EP", "Single",
                "Limited Edition", "Reissue", "Stereo"]
COUNTRIES = ["UK", "US", "Germany", "France", "Sweden", "Japan", "Italy",
             "Netherlands", "Belgium", "Canada", "Brazil"]
QUALITIES = ["Correct", "Needs Vote", "Complete and Correct",
             "Needs Minor Changes", "Needs Major Changes"]
COMPANY_ROLES = ["Pressed By", "Recorded At", "Mastered At", "Distributed By",
                 "Phonographic Copyright (p)", "Copyright (c)", "Made By"]


def _draw(rng, weights):
    """Index drawn from a small discrete distribution."""
    x = rng.random() * sum(weights)
    for i, w in enumerate(weights):
        x -= w
        if x < 0:
            return i
    return len(weights) - 1


class _Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.entities = 0

    def text(self, lo, hi, special_p):
        rng = self.rng
        words = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
        if rng.random() < special_p:
            words.insert(rng.randint(0, len(words)), rng.choice(SPECIALS))
        return " ".join(words)

    def esc(self, s, attr=False):
        out = escape(s, {'"': "&quot;"}) if attr else escape(s)
        self.entities += out.count("&")
        return out

    def artist(self, with_role_text):
        rng = self.rng
        aid = rng.randint(1, 3_000_000)
        name = self.text(1, 3, 0.05)
        anv = self.text(1, 2, 0.0) if rng.random() < 0.15 else ""
        join = rng.choice(JOINS)
        role = rng.choice(ROLES) if with_role_text else ""
        tracks = f"A{rng.randint(1, 4)} to B{rng.randint(1, 4)}" \
            if with_role_text and rng.random() < 0.2 else ""
        return (f"<artist><id>{aid}</id><name>{self.esc(name)}</name>"
                f"<anv>{self.esc(anv)}</anv><join>{self.esc(join)}</join>"
                f"<role>{self.esc(role)}</role><tracks>{tracks}</tracks></artist>")


def generate(path, seed, n):
    """Write `n` releases to gzipped `path`; return (expected, shape)."""
    g = _Gen(seed)
    rng = g.rng
    ids = rng.sample(range(1, 40 * n + 1), n)
    exp = {"rows": n, "id_sum": 0, "null_master": 0, "artists": 0,
           "labels": 0, "genres": 0, "styles": 0}
    titles = {}
    kept_bytes = 0
    total_bytes = 0
    with gzip.open(path, "wb", compresslevel=3) as f:
        head = "<releases>\n".encode()
        f.write(head)
        total_bytes += len(head)
        for rid in ids:
            status = rng.choice(STATUSES)
            title = g.text(1, 5, 0.08)
            n_art = _draw(rng, [1, 80, 12, 5, 2])
            n_lab = _draw(rng, [3, 85, 10, 2])
            n_gen = _draw(rng, [1, 70, 22, 7])
            n_sty = _draw(rng, [10, 45, 30, 10, 5])
            has_master = rng.random() < 0.6
            arts = [g.artist(False) for _ in range(n_art)]
            labels = [
                f'<label name="{g.esc(g.text(1, 3, 0.05), True)}" '
                f'catno="{rng.choice("ABCDEFGHKLMNPRSTVXZ")}{rng.choice("ABCDEFGHKLMNPRSTVXZ")} '
                f'{rng.randint(1, 9999):03d}" id="{rng.randint(1, 900_000)}"/>'
                for _ in range(n_lab)]
            genres = [g.esc(rng.choice(GENRES)) for _ in range(n_gen)]
            styles = [g.esc(rng.choice(STYLES)) for _ in range(n_sty)]
            kept = [
                f"<artists>{''.join(arts)}</artists>" if n_art else "<artists/>",
                f"<title>{g.esc(title)}</title>",
                f"<labels>{''.join(labels)}</labels>" if n_lab else "<labels/>",
                "<genres>" + "".join(f"<genre>{x}</genre>" for x in genres) + "</genres>",
                "<styles>" + "".join(f"<style>{x}</style>" for x in styles) + "</styles>"
                if n_sty else "<styles/>",
            ]
            if has_master:
                kept.append(f'<master_id is_main_release="{"true" if rng.random() < 0.5 else "false"}">'
                            f"{rng.randint(1, 2_000_000)}</master_id>")
            skipped = _skipped(g)
            body = (f'<release id="{rid}" status="{status}">' + skipped[0] +
                    kept[0] + kept[1] + kept[2] + skipped[1] + kept[3] + kept[4] +
                    skipped[2] + "".join(kept[5:]) + skipped[3] + "</release>\n")
            line = body.encode()
            f.write(line)
            total_bytes += len(line)
            kept_bytes += sum(len(k.encode()) for k in kept)
            exp["id_sum"] += rid
            exp["null_master"] += 0 if has_master else 1
            exp["artists"] += n_art
            exp["labels"] += n_lab
            exp["genres"] += n_gen
            exp["styles"] += n_sty
            titles[rid] = title
        tail = "</releases>\n".encode()
        f.write(tail)
        total_bytes += len(tail)
    exp["title_md5"] = hashlib.md5(
        "\n".join(titles[k] for k in sorted(titles)).encode()).hexdigest()
    shape = {
        "releases": n,
        "xml_bytes": total_bytes,
        "bytes_per_release": round(total_bytes / n, 1),
        "skipped_byte_share": round(1 - kept_bytes / total_bytes, 4),
        "artists_per_release": round(exp["artists"] / n, 4),
        "labels_per_release": round(exp["labels"] / n, 4),
        "genres_per_release": round(exp["genres"] / n, 4),
        "styles_per_release": round(exp["styles"] / n, 4),
        "master_id_share": round(1 - exp["null_master"] / n, 4),
        "entities_per_kb": round(g.entities / (total_bytes / 1024), 3),
    }
    return exp, shape


def _skipped(g):
    """The skipped subtrees of one release, in four groups placed around
    the kept elements as in real dumps."""
    rng = g.rng
    images = "".join(
        f'<image height="600" type="{"primary" if i == 0 else "secondary"}" '
        f'uri="" uri150="" width="600"/>' for i in range(_draw(rng, [10, 40, 30, 20])))
    extra = "".join(g.artist(True) for _ in range(_draw(rng, [30, 20, 15, 15, 10, 10])))
    n_desc = rng.randint(1, 3)
    formats = (f'<formats><format name="{rng.choice(FORMATS)}" qty="{rng.randint(1, 2)}" text="">'
               "<descriptions>" +
               "".join(f"<description>{g.esc(rng.choice(FORMAT_DESCS))}</description>"
                       for _ in range(n_desc)) +
               "</descriptions></format></formats>")
    first = (f"<images>{images}</images>" if images else "")
    second = (f"<extraartists>{extra}</extraartists>" if extra else "") + formats
    notes = g.text(5, 40, 0.5) if rng.random() < 0.6 else ""
    third = (f"<country>{rng.choice(COUNTRIES)}</country>"
             f"<released>{rng.randint(1960, 2024)}-{rng.randint(1, 12):02d}-00</released>" +
             (f"<notes>{g.esc(notes)}</notes>" if notes else "") +
             f"<data_quality>{rng.choice(QUALITIES)}</data_quality>")
    tracks = "".join(
        f"<track><position>{chr(65 + i // 4)}{i % 4 + 1}</position>"
        f"<title>{g.esc(g.text(1, 4, 0.05))}</title>"
        f"<duration>{rng.randint(1, 9)}:{rng.randint(0, 59):02d}</duration></track>"
        for i in range(rng.randint(2, 14)))
    idents = "".join(
        f'<identifier description="Side {chr(65 + i)} Runout" type="Matrix / Runout" '
        f'value="{rng.randint(10000, 99999)}-{chr(65 + i)}"/>'
        for i in range(_draw(rng, [30, 20, 30, 20])))
    videos = "".join(
        f'<video duration="{rng.randint(60, 600)}" embed="true" '
        f'src="https://www.youtube.com/watch?v={rng.getrandbits(40):010x}">'
        f"<title>{g.esc(g.text(2, 6, 0.1))}</title>"
        f"<description>{g.esc(g.text(3, 10, 0.1))}</description></video>"
        for _ in range(_draw(rng, [50, 25, 15, 10])))
    companies = "".join(
        f"<company><id>{rng.randint(1, 500000)}</id><name>{g.esc(g.text(1, 3, 0.1))}</name>"
        f"<catno></catno><entity_type>{rng.randint(1, 30)}</entity_type>"
        f"<entity_type_name>{g.esc(rng.choice(COMPANY_ROLES))}</entity_type_name>"
        f"<resource_url>https://api.discogs.com/labels/{rng.randint(1, 500000)}</resource_url>"
        "</company>" for _ in range(_draw(rng, [25, 25, 25, 15, 10])))
    fourth = (f"<tracklist>{tracks}</tracklist>" +
              (f"<identifiers>{idents}</identifiers>" if idents else "") +
              (f"<videos>{videos}</videos>" if videos else "") +
              (f"<companies>{companies}</companies>" if companies else ""))
    return first, second, third, fourth
