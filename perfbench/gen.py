"""Seeded input generators for the benchmark.

garmin_export(root, seed, years) writes a Garmin Connect export in the
`<export>/DI_CONNECT/...` layout that graft.datasets.GarminRaw reads, and
returns the row count each landed dataset must have, computed here from
the generated records with the pipelines' documented semantics. Records
per file and the record shapes follow the reference export as measured in
FIXTURES.md §1.

skew_corpus(path, seed, n_docs) writes a documents.parquet with one
template family whose LSH bucket is far over the 20-id cap and several
near-duplicate chains of long diameter.

The same seed always gives byte-identical files.
"""
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
START = dt.date(2019, 1, 1)
USER = 90210123
DEVICE = 3411223344
# SleepPipeline dates the all-null record of the reference's Q2 2024 file
# by its name; generated windows must never reproduce that name.
RESERVED_SLEEP_WINDOW = "2024-01-23_2024-05-02"

# Records per file as measured on the reference export (FIXTURES.md §1).
# One UDS record per day, so a file spans 59 days; a full window holds
# exactly these counts and the last, shorter window a proportional share.
WINDOW_DAYS = 59
FILE_RECORDS = {"sleep": 58, "atl": 204, "maxmet": 23, "race": 271,
                "training": 204, "uds": 59}
SLEEP_UNDATED = 2         # sleep records per file without calendarDate
ACTIVITIES_PER_FILE = 354
# FIXTURES.md gives no span for an activities file, so the activity rate
# is a choice: 0.85 a day.
ACTIVITY_RATE = 0.85

ACTIVITY_TYPES = ["running", "trail_running", "treadmill_running", "cycling",
                  "walking", "strength_training", "lap_swimming", "hiking"]
ACWR = ["OPTIMAL", "HIGH", "LOW", "VERY_HIGH"]
TRAINING = ["PRODUCTIVE", "MAINTAINING", "RECOVERY", "UNPRODUCTIVE",
            "DETRAINING", "PEAKING"]


def _ms(d, seconds=0):
    return int(((dt.datetime.combine(d, dt.time()) - EPOCH).total_seconds()
                + seconds) * 1000)


def _iso(d, seconds):
    t = dt.datetime.combine(d, dt.time()) + dt.timedelta(seconds=seconds)
    return t.strftime("%Y-%m-%dT%H:%M:%S.0")


def _maybe(rng, p, value):
    return None if rng.random() < p else value


def _write(path, records):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(records, f, indent=1)


def _per_day(rng, total, days):
    """{day: n} with `total` records spread over `days`, at least one each."""
    counts = dict.fromkeys(days, 1)
    for _ in range(total - len(days)):
        counts[days[rng.randrange(len(days))]] += 1
    return counts


def _offsets(rng, n, start=0, end=86_000):
    """n distinct, sorted seconds-of-day."""
    return sorted(rng.sample(range(start, end), n))


def _uds(rng, d):
    """A user daily summary with the ~40 top-level fields of FIXTURES.md;
    GarminRaw.udsSchema reads 16 of them."""
    stress = [{"type": t, **{k: _maybe(rng, 0.02, rng.randrange(0, 5000)) for k in [
        "averageStressLevel", "averageStressLevelIntensity", "maxStressLevel",
        "stressIntensityCount", "stressOffWristCount", "totalStressCount",
        "totalStressIntensity", "stressDuration", "stressTooActiveCount",
        "restDuration", "activityDuration", "mediumDuration", "highDuration",
        "lowDuration", "uncategorizedDuration", "totalDuration"]}}
        for t in rng.sample(["TOTAL", "AWAKE", "ASLEEP"], 3)]
    active = float(rng.randrange(100, 1500))
    dist = rng.randrange(500, 20000)
    return {
        "userProfilePK": USER, "calendarDate": str(d),
        "uuid": f"{rng.getrandbits(64):016x}",
        "durationInMilliseconds": 86_400_000,
        "totalKilocalories": _maybe(rng, 0.03, float(rng.randrange(1800, 3800))),
        "activeKilocalories": active,
        "bmrKilocalories": 1750.0,
        "wellnessKilocalories": float(rng.randrange(1800, 3800)),
        "wellnessActiveKilocalories": active,
        "totalSteps": _maybe(rng, 0.03, rng.randrange(1000, 25000)),
        "dailyStepGoal": 8000,
        "totalDistanceMeters": dist,
        "wellnessDistanceMeters": dist,
        "wellnessStartTimeGmt": _iso(d, 5 * 3600),
        "wellnessEndTimeGmt": _iso(d, 29 * 3600),
        "wellnessStartTimeLocal": _iso(d, 0),
        "wellnessEndTimeLocal": _iso(d, 24 * 3600),
        "highlyActiveSeconds": rng.randrange(0, 7200),
        "activeSeconds": rng.randrange(0, 20000),
        "moderateIntensityMinutes": rng.randrange(0, 90),
        "vigorousIntensityMinutes": rng.randrange(0, 90),
        "floorsAscendedInMeters": _maybe(rng, 0.1, round(rng.uniform(0, 60), 3)),
        "floorsDescendedInMeters": _maybe(rng, 0.1, round(rng.uniform(0, 60), 3)),
        "minHeartRate": rng.randrange(40, 55),
        "maxHeartRate": _maybe(rng, 0.02, rng.randrange(120, 190)),
        "restingHeartRate": rng.randrange(42, 60),
        "currentDayRestingHeartRate": rng.randrange(42, 60),
        **{f"includes{k}": rng.random() < 0.9 for k in [
            "WellnessData", "ActivityData", "CalorieConsumedData",
            "SingleMeasurement", "ContinuousMeasurement", "AllDayPulseOx",
            "SleepPulseOx"]},
        "source": 0,
        # GarminRaw.udsSchema reads this flag as a boolean
        "isVigorousDay": rng.choice([True, False, None]),
        "allDayStress": {"userProfilePK": USER, "calendarDate": str(d),
                         "aggregatorList": stress},
        "bodyBattery": {"chargedValue": rng.randrange(0, 100),
                        "drainedValue": rng.randrange(0, 100),
                        "bodyBatteryVersion": 2.0,
                        "bodyBatteryStatList": [
                            {"bodyBatteryStatType": t,
                             "statsValue": rng.randrange(0, 100),
                             "statTimestamp": _iso(d, rng.randrange(0, 86_000))}
                            for t in ["HIGHEST", "LOWEST", "ENDOFDAY"]]},
        "respiration": {"avgWakingRespirationValue": round(rng.uniform(12, 17), 1),
                        "highestRespirationValue": round(rng.uniform(17, 24), 1),
                        "lowestRespirationValue": round(rng.uniform(8, 12), 1)},
        "hydration": {"goalInML": 2500.0, "valueInML": _maybe(rng, 0.7, 1500.0)},
        "bodyBatteryFeedback": {"bodyBatteryLevel": rng.choice(["LOW", "MODERATE", "HIGH"]),
                                "feedbackShortType": "NONE"},
    }


def _activity(rng, d, activity_id):
    """A summarized activity with ~60 fields, as in FIXTURES.md;
    ActivitiesPipeline.innerSchema reads 21 of them."""
    kind = rng.choice(ACTIVITY_TYPES)
    begin = _ms(d, rng.randrange(5 * 3600, 20 * 3600))
    dur = float(rng.randrange(900, 7200) * 1000)
    speed = rng.uniform(0.15, 0.6)
    lat, lon = rng.uniform(39.9, 40.1), rng.uniform(-105.3, -105.1)
    return kind, {
        "activityId": activity_id,
        "name": f"Generated {kind.replace('_', ' ').title()}",
        "activityType": kind, "sportType": kind.upper(),
        "beginTimestamp": begin, "startTimeGmt": float(begin),
        "startTimeLocal": float(begin - 5 * 3600 * 1000),
        "timeZoneId": 149,
        "duration": dur, "elapsedDuration": dur * 1.05,
        "movingDuration": _maybe(rng, 0.05, dur * 0.97),
        "distance": dur * speed, "avgSpeed": speed,
        "maxSpeed": speed * 1.4,
        "calories": float(rng.randrange(100, 1500)),
        "bmrCalories": float(rng.randrange(50, 200)),
        "avgHr": float(rng.randrange(110, 170)),
        "maxHr": float(rng.randrange(150, 195)),
        "minHr": float(rng.randrange(60, 100)),
        "steps": _maybe(rng, 0.3, float(rng.randrange(1000, 20000))),
        "elevationGain": _maybe(rng, 0.2, float(rng.randrange(0, 80000))),
        "elevationLoss": _maybe(rng, 0.2, float(rng.randrange(0, 80000))),
        "minElevation": _maybe(rng, 0.2, float(rng.randrange(150000, 170000))),
        "maxElevation": _maybe(rng, 0.2, float(rng.randrange(170000, 190000))),
        "aerobicTrainingEffect": round(rng.uniform(1, 5), 1),
        "anaerobicTrainingEffect": round(rng.uniform(0, 4), 1),
        "trainingEffectLabel": rng.choice(["RECOVERY", "BASE", "TEMPO", "THRESHOLD"]),
        "activityTrainingLoad": round(rng.uniform(10, 300), 2),
        "avgRunCadence": _maybe(rng, 0.3, float(rng.randrange(150, 185))),
        "maxRunCadence": _maybe(rng, 0.3, float(rng.randrange(185, 220))),
        "avgFractionalCadence": _maybe(rng, 0.3, round(rng.random(), 3)),
        "maxFractionalCadence": _maybe(rng, 0.3, round(rng.random(), 3)),
        "avgStrideLength": _maybe(rng, 0.3, round(rng.uniform(80, 140), 2)),
        "avgPower": _maybe(rng, 0.5, float(rng.randrange(150, 350))),
        "maxPower": _maybe(rng, 0.5, float(rng.randrange(350, 700))),
        "normPower": _maybe(rng, 0.5, float(rng.randrange(150, 350))),
        "startLatitude": lat, "startLongitude": lon,
        "endLatitude": lat + rng.uniform(-0.01, 0.01),
        "endLongitude": lon + rng.uniform(-0.01, 0.01),
        "favorite": rng.random() < 0.05, "deviceId": DEVICE,
        "manufacturer": "GARMIN",
        "locationName": _maybe(rng, 0.3, rng.choice(["Boulder", "Denver", "Golden"])),
        "vO2MaxValue": _maybe(rng, 0.6, float(rng.randrange(45, 56))),
        "waterEstimated": float(rng.randrange(200, 1500)),
        "moderateIntensityMinutes": rng.randrange(0, 60),
        "vigorousIntensityMinutes": rng.randrange(0, 60),
        "lapCount": rng.randrange(1, 20),
        "parent": False, "purposeful": False, "pr": rng.random() < 0.02,
        "manualActivity": False, "autoCalcCalories": False,
        "elevationCorrected": False, "atpActivity": False, "decoDive": False,
        "hasSplits": rng.random() < 0.5,
        "summarizedExerciseSets": [], "summarizedDiveInfo": {"summarizedDiveGases": []},
    }


def garmin_export(root, seed, years):
    rng = random.Random(seed)
    base = os.path.join(root, f"export_{USER}", "DI_CONNECT")
    days = [START + dt.timedelta(days=i) for i in range(years * 365)]
    expected = {k: 0 for k in ["summarized_activities", "running_data",
                               "sleep_data", "atl_data", "maxmet_data",
                               "race_predictions", "training_history",
                               "uds_data"]}
    atl_days, race_days, latest_status, maxmet_days = set(), set(), {}, []
    activities = []
    activity_id = 10_000_000_000 + rng.randrange(1_000_000)
    for w0 in range(0, len(days), WINDOW_DAYS):
        window = days[w0:w0 + WINDOW_DAYS]
        a, b = window[0], window[-1]
        tag = f"{a:%Y%m%d}_{b:%Y%m%d}_{USER}"
        assert f"{a}_{b}" != RESERVED_SLEEP_WINDOW
        # this window's share of a full file's records
        n = {k: max(1, round(v * len(window) / WINDOW_DAYS))
             for k, v in FILE_RECORDS.items()}
        sleep, atl, maxmet, race, train, uds = [], [], [], [], [], []
        epoch_dates = (w0 // WINDOW_DAYS) % 2 == 0
        sleep_nights = sorted(rng.sample(window, min(n["sleep"], len(window))))
        undated = set(rng.sample(sleep_nights, min(SLEEP_UNDATED, len(sleep_nights))))
        atl_n = _per_day(rng, n["atl"], window)
        race_n = _per_day(rng, n["race"], sorted(rng.sample(window, round(0.9 * len(window)))))
        train_n = _per_day(rng, n["training"], window)
        maxmet_n = _per_day(rng, n["maxmet"],
                            sorted(rng.sample(window, max(1, round(0.75 * n["maxmet"])))))
        for d in window:
            if d in sleep_nights:
                start = -rng.randrange(3600, 4 * 3600)
                end = start + rng.randrange(5 * 3600, 10 * 3600)
                deep, rem = rng.randrange(2000, 8000), rng.randrange(2000, 9000)
                rec = {
                    "calendarDate": str(d),
                    "sleepStartTimestampGMT": _maybe(rng, 0.01, _iso(d, start)),
                    "sleepEndTimestampGMT": _iso(d, end),
                    "sleepWindowConfirmationType": "ENHANCED_CONFIRMED_FINAL",
                    "retro": rng.random() < 0.02,
                    "deepSleepSeconds": deep,
                    "lightSleepSeconds": (end - start) - deep - rem,
                    "remSleepSeconds": _maybe(rng, 0.05, rem),
                    "awakeSleepSeconds": rng.randrange(0, 3000),
                    "unmeasurableSeconds": 0,
                    "averageRespiration": round(rng.uniform(12, 17), 1),
                    "lowestRespiration": round(rng.uniform(8, 12), 1),
                    "highestRespiration": _maybe(rng, 0.03, round(rng.uniform(17, 24), 1)),
                    "awakeCount": rng.randrange(0, 5),
                    "avgSleepStress": round(rng.uniform(5, 30), 2),
                    "restlessMomentCount": rng.randrange(10, 90),
                    "sleepScores": {
                        **{k: rng.randrange(40, 100) for k in [
                            "overallScore", "qualityScore", "durationScore",
                            "recoveryScore", "deepScore", "remScore",
                            "lightScore", "awakeningsCountScore",
                            "awakeTimeScore", "combinedAwakeScore",
                            "restfulnessScore", "interruptionsScore"]},
                        "feedback": _maybe(rng, 0.1, "POSITIVE_LONG_AND_DEEP"),
                        "insight": _maybe(rng, 0.2, "POSITIVE_EXERCISE"),
                    },
                }
                if d in undated:  # SleepPipeline drops these
                    del rec["calendarDate"]
                else:
                    expected["sleep_data"] += 1
                if d.year >= 2021:
                    rec["napList"] = []
                sleep.append(rec)
            # acute training load: intra-day updates, NONE rows, null ratios
            for off in _offsets(rng, atl_n[d]):
                status = "NONE" if rng.random() < 0.2 else rng.choice(ACWR)
                ratio = _maybe(rng, 0.1, round(rng.uniform(0.5, 1.8), 2))
                atl.append({
                    "userProfilePK": USER,
                    "calendarDate": _ms(d) if epoch_dates else str(d),
                    "deviceId": DEVICE, "timestamp": _ms(d, off),
                    "acwrStatus": status,
                    "acwrStatusFeedback": f"FEEDBACK_{status}",
                    "dailyTrainingLoadAcute": _maybe(rng, 0.05, rng.randrange(100, 900)),
                    "dailyTrainingLoadChronic": _maybe(rng, 0.05, rng.randrange(100, 900)),
                    "acwrPercent": _maybe(rng, 0.05, rng.randrange(10, 90)),
                    "dailyAcuteChronicWorkloadRatio": ratio,
                })
                if status != "NONE" and ratio is not None:
                    atl_days.add(d)
            # max-met: sparse days, sometimes updated more than once a day
            if d in maxmet_n:
                for off in _offsets(rng, maxmet_n[d], 8 * 3600, 20 * 3600):
                    maxmet.append({
                        "userProfilePK": USER, "calendarDate": str(d),
                        "deviceId": DEVICE, "updateTimestamp": _iso(d, off),
                        "sport": "RUNNING", "subSport": "GENERIC",
                        "vo2MaxValue": round(rng.uniform(44, 56), 1),
                        "maxMet": round(rng.uniform(12.5, 16.0), 5),
                        "maxMetCategory": 0, "calibratedData": rng.random() < 0.5,
                    })
                maxmet_days.append(d)
            # race predictions: several a day on most days
            if d in race_n:
                for off in _offsets(rng, race_n[d]):
                    t5 = rng.randrange(1100, 1500)
                    race.append({
                        "userProfilePK": USER, "calendarDate": str(d),
                        "deviceId": DEVICE, "timestamp": _iso(d, off),
                        "raceTime5K": t5, "raceTime10K": int(t5 * 2.1),
                        "raceTimeHalf": int(t5 * 4.7), "raceTimeMarathon": int(t5 * 10.1),
                    })
                race_days.add(d)
            # training history: latest record of the day decides the row
            for off in _offsets(rng, train_n[d]):
                status = "NO_STATUS" if rng.random() < 0.25 else rng.choice(TRAINING)
                train.append({
                    "userProfilePK": USER, "calendarDate": str(d),
                    "deviceId": DEVICE, "timestamp": _iso(d, off),
                    "trainingStatus": status,
                    "fitnessLevelTrend": rng.choice(["IMPROVING", "STABLE", "DECLINING"]),
                    "trainingStatus2FeedbackPhrase": f"{status}_1",
                    "sport": "RUNNING", "subSport": "GENERIC",
                })
                latest_status[d] = status
            uds.append(_uds(rng, d))
            expected["uds_data"] += 1
            if rng.random() < ACTIVITY_RATE:
                activity_id += rng.randrange(1, 1000)
                kind, act = _activity(rng, d, activity_id)
                activities.append(act)
                expected["summarized_activities"] += 1
                expected["running_data"] += "run" in kind
        _write(os.path.join(base, "DI-Connect-Wellness", f"{a}_{b}_{USER}_sleepData.json"), sleep)
        _write(os.path.join(base, "DI-Connect-Metrics", f"MetricsAcuteTrainingLoad_{tag}.json"), atl)
        _write(os.path.join(base, "DI-Connect-Metrics", f"MetricsMaxMetData_{tag}.json"), maxmet)
        _write(os.path.join(base, "DI-Connect-Metrics", f"RunRacePredictions_{tag}.json"), race)
        _write(os.path.join(base, "DI-Connect-Metrics", f"TrainingHistory_{tag}.json"), train)
        _write(os.path.join(base, "DI-Connect-Aggregator", f"UDSFile_{tag}.json"), uds)
    for i in range(0, len(activities), ACTIVITIES_PER_FILE):
        _write(os.path.join(base, "DI-Connect-Fitness",
                            f"user_{i // ACTIVITIES_PER_FILE}_summarizedActivities.json"),
               [{"summarizedActivitiesExport": activities[i:i + ACTIVITIES_PER_FILE]}])
    expected["atl_data"] = len(atl_days)
    expected["race_predictions"] = len(race_days)
    expected["training_history"] = sum(1 for s in latest_status.values() if s != "NO_STATUS")
    expected["maxmet_data"] = (max(maxmet_days) - min(maxmet_days)).days + 1
    return expected


def _word(rng):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                   for _ in range(rng.randrange(3, 10)))


def skew_corpus(path, seed, n_docs, family=None, chains=6, chain_len=11):
    """Background documents plus one hot template family (`family` docs,
    one word substituted each) and `chains` near-dup chains of `chain_len`
    documents, each a 50-word window sliding 4 words along a long word
    sequence: neighbours are >= 0.8 Jaccard apart on char 5-shingles, two
    steps are not, so each chain is a path of diameter chain_len - 1.
    """
    rng = random.Random(seed)
    family = family or n_docs // 10
    vocab = sorted({_word(rng) for _ in range(4000)})
    texts = []
    template = [rng.choice(vocab) for _ in range(50)]
    for _ in range(family):
        t = list(template)
        t[rng.randrange(len(t))] = rng.choice(vocab)
        texts.append(" ".join(t))
    chain_texts = []
    for _ in range(chains):
        seq = [rng.choice(vocab) for _ in range(50 + 4 * (chain_len - 1))]
        chain_texts.append([" ".join(seq[4 * i:4 * i + 50]) for i in range(chain_len)])
    while len(texts) < n_docs - n_docs // 100 - chains * chain_len:
        texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randrange(20, 100))))
    # exact duplicates, removed by the exact-dedup step
    texts.extend(rng.choice(texts) for _ in range(n_docs - len(texts) - chains * chain_len))
    tagged = [(t, None) for t in texts] + [(t, c) for c, ch in enumerate(chain_texts) for t in ch]
    rng.shuffle(tagged)
    texts = [t for t, _ in tagged]
    # Ids ascend along each chain, so the smallest id, which min-label
    # propagation spreads, starts at one end and must travel the whole
    # diameter: every seed needs the same number of Components rounds.
    for c, ch in enumerate(chain_texts):
        for pos, t in zip(sorted(i for i, (_, g) in enumerate(tagged) if g == c), ch):
            texts[pos] = t
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array([rng.choice(["web", "forum", "docs"]) for _ in texts], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return {"documents": len(texts), "hot_family_docs": family,
            "chains": chains, "chain_diameter": chain_len - 1}
