"""Seeded input generator for the etl_movies workload.

Writes the three Movies-ETL inputs in the schemas of the repository's
fixtures (src/test/resources/fixtures):

* wiki_movies.json - a multi-line JSON array of sparse infobox dicts, with
  the alternate key spellings the pipeline consolidates, a share of
  series records carrying "No. of episodes", records without a director
  or an IMDb link, and duplicate records of one film;
* movies_metadata.csv - the 24-column Kaggle metadata, with "adult" and
  "video" as the strings "True"/"False" and zero budgets/runtimes the
  merge fills from the wiki side;
* ratings/ratings-NNN.csv - MovieLens ratings in half-star steps with unix
  second timestamps, one file per `ratings_per_file` rows.

Next to them it writes truth.json: the row funnel and the output
fingerprints the pipeline must reproduce, derived from the values the
generator planted rather than from running the pipeline. The same seed
and sizes always give byte-identical files.
"""
import csv
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

# bump when the generated bytes change, so cached inputs are rebuilt
GEN_VERSION = 1

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
RATINGS = ["0.5", "1.0", "1.5", "2.0", "2.5", "3.0", "3.5", "4.0", "4.5", "5.0"]
RATING_WEIGHTS = np.array([1.5, 3.0, 1.5, 7.0, 5.0, 20.0, 12.0, 26.0, 8.0, 15.0])
# weights of the rating-count columns in the output fingerprint; the
# harness (perfbench/scala) uses the same constants
RATING_PRIMES = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31]
MOD31 = 2147483647
FIRST_TS, LAST_TS = 789652009, 1501829870
NAMES = ["Alex", "Sam", "Robin", "Kim", "Lee", "Jordan", "Casey", "Morgan",
         "Avery", "Quinn", "Riley", "Jamie", "Drew", "Sky", "Reese", "Toni"]
SURNAMES = ["Smith", "Jones", "Brown", "Garcia", "Miller", "Davis", "Lopez",
            "Wilson", "Moore", "Clark", "Lewis", "Walker", "Young", "King"]
WORDS = ["dark", "night", "river", "last", "city", "dream", "summer", "storm",
         "silent", "road", "love", "war", "ghost", "star", "island", "secret",
         "king", "garden", "fire", "winter", "blue", "return", "house", "code"]
ALT_KEYS = [("French", "Le film"), ("Japanese", "映画"), ("Hepburn", "Eiga"),
            ("Literally", "The Film"), ("Mandarin", "Dianying"),
            ("Russian", "Фильм"), ("Original title", "Der Film")]
KAGGLE_COLUMNS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview",
    "popularity", "poster_path", "production_companies",
    "production_countries", "release_date", "revenue", "runtime",
    "spoken_languages", "status", "tagline", "title", "video",
    "vote_average", "vote_count"]
GENRES = [(18, "Drama"), (35, "Comedy"), (28, "Action"), (12, "Adventure"),
          (27, "Horror"), (10749, "Romance"), (878, "Science Fiction")]


def person(rng):
    return f"{NAMES[rng.integers(len(NAMES))]} {SURNAMES[rng.integers(len(SURNAMES))]}"


def money_cell(rng, dollars):
    """Renders a planted dollar amount (a whole number of $100k) in one of
    the infobox spellings the money parser accepts; returns (cell, value
    the parser yields)."""
    millions = dollars / 1_000_000
    num = f"{millions:.1f}".rstrip("0").rstrip(".")
    form = rng.integers(6)
    if form == 0:
        return f"${num} million", round(float(num) * 1e6)
    if form == 1:
        return f"${dollars:,}", dollars
    if form == 2:
        return f"[{rng.integers(1, 9)}]${dollars:,}", dollars
    if form == 3:
        low = max(1, int(millions) - 2)
        return f"${low}–{num} million", round(float(num) * 1e6)
    if form == 4 and dollars >= 1_000_000_000:
        b = f"{dollars / 1e9:.1f}"
        return f"${b} billion", round(float(b) * 1e9)
    return f"${num} million", round(float(num) * 1e6)


def date_cell(rng, y, m, d):
    form = rng.integers(4)
    if form == 0:
        return f"{MONTHS[m - 1]} {d}, {y}"
    if form == 1:
        return f"{y}-{m:02d}-{d:02d}"
    if form == 2:
        return f"{MONTHS[m - 1]} {y}"
    return str(y)


def runtime_cell(rng, minutes):
    form = rng.integers(4)
    if form == 0:
        return f"{minutes} minutes"
    if form == 1:
        return f"{minutes // 60} h {minutes % 60} min"
    if form == 2:
        return f"{minutes // 60} hour {minutes % 60} minutes"
    return f"{minutes} m"


def _kaggle_rows(rng, n, ids, imdb, films):
    """Kaggle metadata rows. `films` maps a kaggle row index to its planted
    film, whose date, runtime, budget and title the row carries (or a zero
    runtime/budget the merge fills from the wiki side)."""
    adult = rng.random(n) < 0.005
    year = rng.integers(1966, 2017, size=n)
    month = rng.integers(1, 13, size=n)
    day = rng.integers(1, 29, size=n)
    runtime = rng.integers(70, 180, size=n)
    budget = np.where(rng.random(n) < 0.5, 0, rng.integers(1, 300, size=n) * 100_000)
    words = rng.integers(len(WORDS), size=(n, 4))
    genre = rng.integers(len(GENRES), size=n)
    studio = rng.integers(len(SURNAMES), size=n)
    u = rng.random((n, 5))
    revenue = np.where(u[:, 0] < 0.6, rng.integers(0, 500, size=n) * 1_000_000, 0)
    popularity = rng.random(n) * 20
    vote_average = rng.random(n) * 10
    vote_count = rng.integers(0, 10000, size=n)
    rows = []
    for i in range(n):
        f = films.get(i)
        if f is not None:
            y, m, d = f["kaggle_date"]
            rt = 0 if f["kaggle_zero_runtime"] else f["runtime"]
            b = 0 if f["kaggle_zero_budget"] else f["budget"]
            title = f["title"]
        else:
            y, m, d = year[i], month[i], day[i]
            rt, b = int(runtime[i]), int(budget[i])
            title = f"{WORDS[words[i, 0]]} {WORDS[words[i, 1]]}".title()
        g = GENRES[genre[i]]
        rows.append([
            "True" if adult[i] else "False",
            "",
            b,
            f"[{{'id': {g[0]}, 'name': '{g[1]}'}}]",
            f"http://movie{ids[i]}.example.com" if u[i, 1] < 0.2 else "",
            int(ids[i]),
            f"tt{imdb[i]:07d}",
            "en" if u[i, 2] < 0.7 else "fr",
            title,
            f"A story about {WORDS[words[i, 2]]}, told twice",
            f"{popularity[i]:.3f}",
            f"/p{ids[i]}.jpg",
            "[{'name': 'Studio " + SURNAMES[studio[i]] + "'}]",
            "[{'iso_3166_1': 'US'}]",
            f"{y}-{m:02d}-{d:02d}",
            int(revenue[i]),
            rt,
            "[{'iso_639_1': 'en'}]",
            "Released",
            "" if u[i, 3] < 0.5 else f"The {WORDS[words[i, 3]]} returns",
            title,
            "True" if u[i, 4] < 0.01 else "False",
            f"{vote_average[i]:.1f}",
            int(vote_count[i]),
        ])
    return rows, adult


def generate(out_dir, seed, n_wiki, n_kaggle, n_ratings, ratings_per_file):
    """Writes the inputs and truth.json into `out_dir` (created)."""
    rng = np.random.default_rng([seed, n_wiki, n_kaggle, n_ratings, GEN_VERSION])
    os.makedirs(f"{out_dir}/ratings", exist_ok=True)

    # identifiers: kaggle ids and IMDb numbers, unique, shuffled
    ids = rng.choice(np.arange(2, 470000), size=n_kaggle, replace=False)
    imdb_pool = rng.choice(np.arange(1, 9_999_999), size=n_kaggle + n_wiki, replace=False)
    imdb = imdb_pool[:n_kaggle]
    spare_imdb = iter(imdb_pool[n_kaggle:].tolist())

    # wiki record plan
    n_series = round(0.03 * n_wiki)
    n_nolink = round(0.02 * n_wiki)
    n_nodir = round(0.02 * n_wiki)
    n_dup = round(0.01 * n_wiki)
    n_films = n_wiki - n_series - n_nolink - n_nodir - n_dup
    n_wiki_only = round(0.04 * n_films)
    matched = rng.choice(n_kaggle, size=n_films - n_wiki_only, replace=False)
    n_outlier = max(1, round(0.002 * len(matched)))

    films = {}  # kaggle row index -> planted film
    records = []

    def film_record(title, imdb_num, f, url_suffix=""):
        slug = title.replace(" ", "_")
        r = {"url": f"https://en.wikipedia.org/wiki/{slug}{url_suffix}",
             "year": f["wiki_date"][0],
             "imdb_link": f"https://www.imdb.com/title/tt{imdb_num:07d}/",
             "title": title}
        r["Directed by" if f["dir_form"] else "Director"] = f["director"]
        r["Starring"] = f["starring"]
        r.update(f["cells"])
        return r

    def plan_film(outlier):
        y = int(rng.integers(1997, 2017)) if outlier else int(rng.integers(1966, 2017))
        m, d = int(rng.integers(1, 13)), int(rng.integers(1, 29))
        runtime = int(rng.integers(70, 200))
        budget = int(rng.integers(10, 3000)) * 100_000 if rng.random() < 0.97 \
            else int(rng.integers(10, 30)) * 100_000_000
        f = {"wiki_date": (y, m, d),
             "kaggle_date": (int(rng.integers(1950, 1965)), m, d) if outlier else (y, m, d),
             "runtime": runtime, "budget": budget,
             "kaggle_zero_runtime": bool(rng.random() < 0.1),
             "kaggle_zero_budget": bool(rng.random() < 0.4),
             "dir_form": bool(rng.random() < 0.7), "director": person(rng),
             "starring": [person(rng) for _ in range(int(rng.integers(1, 4)))]}
        cells = {}
        # release date: full form for outliers so the outlier filter sees it
        dkey = ["Release date", "Released", "Original release"][rng.choice(3, p=[0.85, 0.1, 0.05])]
        if outlier:
            cells[dkey] = f"{MONTHS[m - 1]} {d}, {y}"
        elif rng.random() < 0.02:
            cells[dkey] = "TBA"
        else:
            cells[dkey] = date_cell(rng, y, m, d)
        rkey = "Running time" if rng.random() < 0.9 else "Length"
        wiki_runtime = 0
        if rng.random() < 0.02:
            cells[rkey] = "Unknown"
        else:
            cells[rkey] = runtime_cell(rng, runtime)
            wiki_runtime = runtime
        wiki_budget = None
        u = rng.random()
        if u < 0.03:
            cells["Budget"] = "N/A"
        elif u < 0.63:
            cells["Budget"], wiki_budget = money_cell(rng, budget)
        if rng.random() < 0.5:
            cells["Box office"] = money_cell(rng, int(rng.integers(1, 9000)) * 100_000)[0]
        cells["Country" if rng.random() < 0.8 else "Country of origin"] = "United States"
        cells["Language"] = "English"
        if rng.random() < 0.6:
            cells["Distributed by"] = f"{SURNAMES[rng.integers(len(SURNAMES))]} Pictures"
        if rng.random() < 0.7:
            cells["Produced by" if rng.random() < 0.8 else "Producer"] = person(rng)
        if rng.random() < 0.5:
            cells["Music by" if rng.random() < 0.9 else "Theme music composer"] = person(rng)
        if rng.random() < 0.7:
            cells[["Written by", "Screenplay by", "Story by"][rng.integers(3)]] = person(rng)
        if rng.random() < 0.4:
            cells["Edited by"] = person(rng)
        if rng.random() < 0.3:
            cells["Cinematography"] = person(rng)
        if rng.random() < 0.05:
            cells[["Productioncompany ", "Productioncompanies ", "Production company"][rng.integers(3)]] = \
                f"{SURNAMES[rng.integers(len(SURNAMES))]} Studios"
        if rng.random() < 0.1:
            k, v = ALT_KEYS[rng.integers(len(ALT_KEYS))]
            cells[k] = v
        if rng.random() < 0.15:
            cells["Based on"] = f"a novel by {person(rng)}"
        f["cells"] = cells
        f["wiki_runtime"] = wiki_runtime
        f["wiki_budget"] = wiki_budget
        return f

    outlier_rows = set(rng.choice(matched, size=n_outlier, replace=False).tolist())
    for n, k in enumerate(matched.tolist()):
        f = plan_film(k in outlier_rows)
        f["title"] = f"{WORDS[n % len(WORDS)].title()} Movie {n}"
        films[k] = f
        records.append(film_record(f["title"], int(imdb[k]), f))
    for n in range(n_wiki_only):
        f = plan_film(False)
        records.append(film_record(f"Wiki Only {n}", next(spare_imdb), f))
    dup_of = rng.choice(matched, size=n_dup, replace=False)
    for k in dup_of.tolist():
        f = films[k]
        records.append(film_record(f["title"], int(imdb[k]), f, "_(rerelease)"))
    for n in range(n_series):
        f = plan_film(False)
        r = film_record(f"Series {n}", next(spare_imdb), f)
        r["No. of episodes"] = int(rng.integers(6, 120))
        records.append(r)
    for n in range(n_nolink):
        r = film_record(f"No Link {n}", next(spare_imdb), plan_film(False))
        del r["imdb_link"]
        records.append(r)
    for n in range(n_nodir):
        r = film_record(f"No Director {n}", next(spare_imdb), plan_film(False))
        r.pop("Directed by", None)
        r.pop("Director", None)
        records.append(r)
    order = rng.permutation(len(records))
    with open(f"{out_dir}/wiki_movies.json", "w", encoding="utf-8") as fh:
        json.dump([records[i] for i in order], fh, indent=2, ensure_ascii=False)
        fh.write("\n")

    kaggle_rows, adult = _kaggle_rows(rng, n_kaggle, ids, imdb, films)
    with open(f"{out_dir}/movies_metadata.csv", "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(KAGGLE_COLUMNS)
        w.writerows(kaggle_rows)

    # ratings: skewed movie popularity, 2% on movie ids absent from kaggle
    u = rng.random(n_ratings)
    movie_idx = np.minimum((n_kaggle * u * u).astype(np.int64), n_kaggle - 1)
    orphan = rng.random(n_ratings) < 0.02
    movie_id = np.where(orphan, 500000 + (movie_idx % 1000), ids[movie_idx]).astype(np.int64)
    rating_idx = rng.choice(10, size=n_ratings, p=RATING_WEIGHTS / RATING_WEIGHTS.sum())
    user_id = rng.integers(1, 270897, size=n_ratings, dtype=np.int64)
    ts = rng.integers(FIRST_TS, LAST_TS, size=n_ratings, dtype=np.int64)
    rating_str = pa.array(np.array(RATINGS)[rating_idx])
    for f, lo in enumerate(range(0, n_ratings, ratings_per_file)):
        hi = min(lo + ratings_per_file, n_ratings)
        table = pa.table({"userId": user_id[lo:hi], "movieId": movie_id[lo:hi],
                          "rating": rating_str[lo:hi], "timestamp": ts[lo:hi]})
        pacsv.write_csv(table, f"{out_dir}/ratings/ratings-{f:03d}.csv",
                        pacsv.WriteOptions(quoting_style="none"))

    # truth: funnel and fingerprints from the planted values
    counts = np.bincount(np.where(orphan, n_kaggle, movie_idx) * 10 + rating_idx,
                         minlength=(n_kaggle + 1) * 10).reshape(n_kaggle + 1, 10)
    movies_fp = 0
    n_movies = 0
    for k, f in films.items():
        if adult[k] or f["kaggle_date"][0] < 1965:
            continue
        n_movies += 1
        runtime = f["wiki_runtime"] if f["kaggle_zero_runtime"] else f["runtime"]
        budget = f["budget"] if not f["kaggle_zero_budget"] else f["wiki_budget"]
        budget = -1 if budget is None else budget
        h = (int(ids[k]) * 1000003 + int(imdb[k]) * 8191 + budget * 131 + runtime * 127
             + sum(int(c) * p for c, p in zip(counts[k], RATING_PRIMES)))
        movies_fp += h % MOD31
    rating_half = (np.array([float(r) for r in RATINGS]) * 2).astype(np.int64)[rating_idx]
    ratings_fp = int(((user_id * 1000003 + movie_id * 8191 + rating_half * 131 + ts)
                      % MOD31).sum())
    n_filtered = n_films + n_dup
    truth = {
        "rows_wiki_in": n_wiki,
        "rows_after_filter": n_filtered,
        "rows_after_dedup": n_films,
        "rows_movies": n_movies,
        "rows_with_ratings": n_movies,
        "movies_fingerprint": movies_fp,
        "ratings_loaded": n_ratings,
        "ratings_fingerprint": ratings_fp,
    }
    with open(f"{out_dir}/truth.json", "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth


def input_fingerprint(out_dir):
    """sha256 over every generated file, in path order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            if name == "truth.json":
                continue
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as fh:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def cached(cache_root, seed, n_wiki, n_kaggle, n_ratings, ratings_per_file, keep=4):
    """Returns the directory holding the inputs for these arguments,
    generating it on a miss. At most `keep` input sets stay on disk."""
    key = f"etl_movies-v{GEN_VERSION}-s{seed}-w{n_wiki}-k{n_kaggle}-r{n_ratings}-f{ratings_per_file}"
    out = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(out, "truth.json")):
        os.utime(out)
        return out
    os.makedirs(cache_root, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, seed, n_wiki, n_kaggle, n_ratings, ratings_per_file)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    entries = sorted((e for e in os.scandir(cache_root)
                      if e.is_dir() and not e.name.endswith(".tmp")),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return out
