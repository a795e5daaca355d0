#!/usr/bin/env python3
"""Generate src/main/resources/graft/psl_snapshot.dat — the Public
Suffix List snapshot behind `registrable_host` (functions/UrlExprs.scala)
and the crawl DuckDB oracles (queries/CrawlGates.scala reads the
SAME resource to inline the rule table, so cross-engine agreement is by
construction).

Two modes:

  python3 scripts/gen_psl.py
      Emit the embedded curated snapshot (below). This container has no
      network egress, so the snapshot is curated from the publicly
      documented PSL (https://publicsuffix.org/list/) rather than a live
      download: it is COMPLETE for the second-level registry conventions
      of ~150 ccTLDs, every wildcard/exception family (*.ck/!www.ck, the
      seven Japanese city wildcards, *.bd, *.er, *.fk, *.jm, *.mm, *.np,
      *.pg, *.sch.uk, *.nom.br), the US state k12/cc/lib third-level
      registries, the AU state edu/gov third-level registries, and the
      high-traffic PRIVATE-section hosting suffixes (github.io etc.).
      The long tail of municipal vanity suffixes (the ~100 .it province
      names, .no/.se municipality lists) is representatively covered —
      the fallback for an uncovered suffix is the last-two-labels
      default, identical in both engines.

  python3 scripts/gen_psl.py --from-file /path/to/public_suffix_list.dat
      Regenerate byte-for-byte from a live PSL download (when egress
      exists): keeps every multi-label, wildcard and exception rule from
      both sections, drops single-label normal rules (they behave
      exactly like the default rule and would triple the table for no
      semantic change). Punycode/IDN labels are kept as written.

Output format: `// comment` lines and one rule per line —
  foo.bar     normal rule (foo.bar is a public suffix)
  *.bar       wildcard (every <label>.bar is a public suffix)
  !foo.bar    exception (foo.bar is NOT a public suffix despite a
              wildcard covering it)
"""
import sys, os

OUT = os.path.join(os.path.dirname(__file__), "..",
                   "src", "main", "resources", "graft", "psl_snapshot.dat")

# ---- embedded curated snapshot -------------------------------------------
# tld -> space-separated second-level registry labels (rule = <label>.<tld>)
CC2 = {
    "uk": "ac co gov ltd me net nhs org plc police",
    "jp": ("ac ad co ed go gr lg ne or "
           # prefectures (all 47)
           "aichi akita aomori chiba ehime fukui fukuoka fukushima gifu "
           "gunma hiroshima hokkaido hyogo ibaraki ishikawa iwate kagawa "
           "kagoshima kanagawa kochi kumamoto kyoto mie miyagi miyazaki "
           "nagano nagasaki nara niigata oita okayama okinawa osaka saga "
           "saitama shiga shimane shizuoka tochigi tokushima tokyo tottori "
           "toyama wakayama yamagata yamaguchi yamanashi"),
    "br": ("adv agr am app arq art ato b bio blog bmd cim cng cnt com coop "
           "dev ecn eco edu emp eng esp etc eti far flog fm fnd fot fst "
           "g12 ggf gov imb ind inf jor jus leg lel log mat med mil mp mus "
           "net not ntr odo org ppg pro psc psi pvt qsl radio rec rep seg "
           "slg srv taxi teo tmp trd tur tv vet vlog wiki zlg"),
    "au": "asn com conf edu gov id info net org oz act nsw nt qld sa tas vic wa",
    "nz": ("ac co cri geek gen govt health iwi kiwi maori mil net org "
           "parliament school"),
    "za": ("ac agric alt co edu gov grondar law mil net ngo nic nis nom "
           "org school tm web"),
    "in": "ac co edu firm gen gov ind mil net nic org res",
    "cn": ("ac com edu gov mil net org ah bj cq fj gd gs gx gz ha hb he hi "
           "hk hl hn jl js jx ln mo nm nx qh sc sd sh sn sx tj tw xj xz yn zj"),
    "kr": ("ac co es go hs kg mil ms ne or pe re sc busan chungbuk chungnam "
           "daegu daejeon gangwon gwangju gyeongbuk gyeonggi gyeongnam "
           "incheon jeju jeonbuk jeonnam seoul ulsan"),
    "pl": ("com net org aid agro atm auto biz edu gmina gov gsm info mail "
           "miasta media mil nieruchomosci nom pc powiat priv realestate "
           "rel sex shop sklep sos szkola targi tm tourism travel turystyka "
           "warszawa waw wroclaw wroc krakow katowice lodz lublin gdansk "
           "gda poznan szczecin torun bialystok olsztyn opole rzeszow "
           "slupsk radom kielce gliwice zabrze bytom elblag kalisz konin "
           "legnica malopolska mazowsze mazury pila pomorze pomorskie"),
    "il": "ac co gov idf k12 muni net org",
    "ar": "bet com coop edu gob gov int mil musica mutual net org senasa tur",
    "mx": "com edu gob net org",
    "tr": ("av bbs bel biz com dr edu gen gov info k12 kep name net org "
           "pol tel tsk tv web"),
    "tw": "club com ebiz edu game gov idv mil net org",
    "sg": "com edu gov net org per",
    "hk": "com edu gov idv net org",
    "th": "ac co go in mi net or",
    "id": "ac biz co desa go mil my net or ponpes sch web",
    "my": "com edu gov mil name net org",
    "ph": "com edu gov i mil net ngo org",
    "vn": "ac biz com edu gov health info int name net org pro",
    "ua": ("com edu gov in net org cherkassy cherkasy chernigov chernihiv "
           "chernivtsi chernovtsy ck cn cr crimea cv dn dnepropetrovsk "
           "dnipropetrovsk donetsk dp if kh kharkiv kharkov kherson "
           "khmelnitskiy kiev kyiv kirovograd km kr ks lg lt lugansk lutsk "
           "lv lviv mk mykolaiv nikolaev od odesa odessa pl poltava rivne "
           "rovno rv sb sebastopol sevastopol sm sumy te ternopil uz "
           "uzhgorod vinnica vinnytsia vn volyn yalta zaporizhzhe "
           "zaporizhzhia zhitomir zhytomyr zp zt"),
    "ru": "ac edu gov int mil test",
    "at": "ac co gv or priv",
    "bn": "com edu gov net org",
    "bt": "com edu gov net org",
    "cy": "ac biz com ekloges gov ltd mil net org press pro tm",
    "do": "art com edu gob gov mil net org sld web",
    "dz": "art asso com edu gov net org pol soc tm",
    "ec": "com edu fin gob gov info k12 med mil net org pro",
    "eg": "ac com edu eun gov info me mil name net org sci sport tv",
    "et": "biz com edu gov info name net org",
    "fj": "ac biz com gov info mil name net org pro",
    "gh": "com edu gov mil org",
    "gn": "ac com edu gov net org",
    "gr": "com edu gov net org",
    "gt": "com edu gob ind mil net org",
    "gu": "com edu gov guam net org",
    "hu": ("co 2000 agrar bolt casino city erotica erotika film forum "
           "games hotel info ingatlan jogasz konyvelo lakas media news "
           "org priv reklam sex shop sport suli szex tm tozsde utazas video"),
    "ie": "gov",
    "ir": "ac co gov id net org sch",
    "iq": "com edu gov mil net org",
    "jo": "com edu gov mil name net org sch",
    "ke": "ac co go info me mobi ne or sc",
    "kh": "com edu gov mil net org per",
    "kw": "com edu emb gov ind net org",
    "kz": "com edu gov mil net org",
    "lb": "com edu gov net org",
    "lk": ("ac assn com edu gov grp hotel int ltd net ngo org sch soc web"),
    "ma": "ac co gov net org press",
    "mt": "com edu net org",
    "mv": ("aero biz com coop edu gov info int mil museum name net org pro"),
    "mw": "ac biz co com coop edu gov int museum net org",
    "mz": "ac adv co edu gov mil net org",
    "na": "co com dr in info mobi mx name or org pro school tv us ws ca cc",
    "ng": "com edu gov i mil mobi name net org sch",
    "ni": "ac biz co com edu gob in info int mil net nom org web",
    "nr": "biz com edu gov info net org",
    "om": "co com edu gov med museum net org pro",
    "pa": "abo ac com edu gob ing med net nom org sld",
    "pe": "com edu gob mil net nom org",
    "pk": "ac biz com edu fam gob gok gon gop gos gov net org web",
    "pr": "ac biz com edu est gov info isla name net org pro prof",
    "ps": "com edu gov net org plo sec",
    "pt": "com edu gov int net nome org publ",
    "py": "com coop edu gov mil net org",
    "qa": "com edu gov mil name net org sch",
    "ro": "arts com firm info nom nt org rec store tm www",
    "rs": "ac co edu gov in org",
    "sa": "com edu gov med net org pub sch",
    "sb": "com edu gov net org",
    "sd": "com edu gov info med net org tv",
    "sv": "com edu gob org red",
    "sy": "com edu gov mil net org",
    "sz": "ac co org",
    "tj": "ac biz co com edu go gov int mil name net nic org test web",
    "tn": ("com ens fin gov ind info intl mincom nat net org perso tourism"),
    "tz": "ac co go hotel info me mil mobi ne or sc tv",
    "ug": "ac co com go ne or org sc",
    "uy": "com edu gub mil net org",
    "uz": "biz co com net org",
    "ve": ("arts bib co com e12 edu firm gob gov info int mil net org rec "
           "store tec web"),
    "ye": "com edu gov mil net org",
    "zm": "ac biz co com edu gov info mil net org sch",
    "zw": "ac co gov mil org",
    "bo": ("com edu gob int mil net org tv web academia agro arte blog "
           "bolivia ciencia cooperativa democracia deporte ecologia "
           "economia empresa indigena industria info medicina movimiento "
           "musica natural nombre noticias patria plurinacional politica "
           "profesional pueblo revista salud tecnologia tksat transporte "
           "wiki"),
    "co": "arts com edu firm gov info int mil net nom org rec web",
    "cr": "ac co ed fi go or sa",
    "cu": "com edu gov inf net org",
    "cl": "co gob gov mil",
    "ca": "ab bc gc mb nb nf nl ns nt nu on pe qc sk yk",
    "us": ("ak al ar az ca co ct dc de fl ga gu hi ia id il in ks ky la "
           "ma md me mi mn mo ms mt nc nd ne nh nj nm nv ny oh ok or pa "
           "pr ri sc sd tn tx ut va vi vt wa wi wv wy dni fed isa kids nsn"),
    "es": "com edu gob nom org",
    "fr": ("asso com gouv nom prd tm avocat aeroport avoues cci chambagri "
           "chirurgiens-dentistes experts-comptables geometre-expert greta "
           "huissier-justice medecin notaires pharmacien port veterinaire"),
    "it": ("edu gov abruzzo basilicata calabria campania emilia-romagna "
           "friuli-venezia-giulia lazio liguria lombardia marche molise "
           "piemonte puglia sardegna sicilia toscana "
           "trentino-alto-adige umbria valle-aosta valledaosta veneto "
           "roma milano napoli torino palermo genova bologna firenze "
           "bari venezia"),
    "se": ("a ac b bd brand c d e f fh fhsk fhv g h i k komforb "
           "kommunalforbund komvux l lanbib m n naturbruksgymn o org p "
           "parti pp press r s t tm u w x y z"),
    "no": ("fhs vgs fylkesbibl folkebibl museum idrett priv mil stat dep "
           "kommune herad"),
    "be": "ac",
    "fi": "aland",
    "lt": "gov",
    "lv": "asn com conf edu gov id mil net org",
    "ee": "aip com edu fie gov lib med org pri riik",
    "by": "com gov mil of",
    "az": "biz com edu gov info int mil name net org pp pro",
    "am": "co com commune net org",
    "ge": "com edu gov mil net org pvt",
    "gg": "co net org",
    "je": "co net org",
    "im": "ac co com gov net org tt tv",
    "mk": "com edu gov inf name net org",
    "me": "ac co edu gov its net org priv",
    "ba": "com edu gov mil net org",
    "hr": "com from iz name",
    "is": "com edu gov int net org",
    "mc": "asso tm",
    "mo": "com edu gov net org",
    "mn": "edu gov nyc org",
    "la": "c com edu gov info int net org per",
    "kg": "com edu gov mil net org",
    "af": "com edu gov net org",
    "al": "com edu gov mil net org",
    "ao": "co ed edu gov gv it og org pb",
    "bw": "ac co org",
    "bz": "com edu gov net org za",
    "bh": "com edu gov net org",
    "bi": "co com edu or org",
    "bj": ("africa agro architectes assur avocats co com eco econo edu "
           "info loisirs money net org ote restaurant resto tourism univ"),
    "cm": "co com gov net",
    "ci": "ac asso co com ed edu go gouv int net or org",
    "cd": "gov",
    "dm": "com edu gov net org",
    "gi": "com edu gov ltd mod org",
    "gl": "co com edu net org",
    "gp": "asso com edu mobi net org",
    "gy": "co com edu gov net org",
    "hn": "com edu gob mil net org",
    "ht": ("adult art asso com coop edu firm gouv info med net org perso "
           "pol pro rel shop"),
    "ki": "biz com edu gov info net org phone",
    "kn": "edu gov net org",
    "kp": "com edu gov org rep tra",
    "ky": "com edu gov net org",
    "lc": "co com edu gov net org",
    "lr": "com edu gov net org",
    "ls": "ac biz co edu gov info net org sc",
    "ly": "com edu gov id med net org plc sch",
    "mg": "co com edu gov mil nom org prd",
    "mu": "ac co com gov net or org",
    "ml": "com edu gouv gov net org presse",
    "mr": "gov",
    "ms": "com edu gov net org",
    "nf": "arts com firm info net other per rec store web",
    "pf": "com edu org",
    "pw": "belau co ed go ne or",
    "rw": "ac co coop gov mil net org",
    "sc": "com edu gov net org",
    "sl": "com edu gov net org",
    "sn": "art com edu gouv org perso univ",
    "so": "com edu gov me net org",
    "ss": "biz com edu gov me net org sch",
    "st": ("co com consulado edu embaixada mil net org principe saotome "
           "store"),
    "sx": "gov",
    "tl": "gov",
    "tm": "co com edu gov mil net nom org",
    "to": "com edu gov mil net org",
    "tt": "biz co com edu gov info name net org pro",
    "vc": "com edu gov mil net org",
    "vi": "co com k12 net org",
    "vu": "com edu net org",
    "ws": "com edu gov net org",
    "ai": "com net off org",
    "ag": "co com net nom org",
    "aw": "com",
    "bb": "biz co com edu gov info net org store tv",
    "bs": "com edu gov net org",
}

# .bg second level: single letters and digits
CC2["bg"] = " ".join([chr(c) for c in range(ord("a"), ord("z") + 1)] +
                     [str(d) for d in range(10)])

# wildcard rules (`*.<base>`): whole-TLD wildcards + the JP city domains
# + *.sch.uk + *.nom.br
WILD = ["bd", "ck", "er", "fk", "jm", "mm", "np", "pg",
        "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
        "sapporo.jp", "sendai.jp", "yokohama.jp",
        "sch.uk", "nom.br"]

# exception rules (`!<base>`)
EXC = ["www.ck",
       "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
       "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
       "city.yokohama.jp"]

US_STATES = ("ak al ar az ca co ct dc de fl ga hi ia id il in ks ky la ma "
             "md me mi mn mo ms mt nc nd ne nh nj nm nv ny oh ok or pa ri "
             "sc sd tn tx ut va vt wa wi wv wy").split()
AU_STATES = "act nsw nt qld sa tas vic wa".split()

# PRIVATE section (high-traffic hosting/platform suffixes). POLICY:
# private-section suffixes ARE treated as public suffixes — for the
# downstream consumers (capPerGroup, leakageSafeSplit) two tenants of
# one platform (user1.github.io / user2.github.io) are different sites:
# capping or splitting them as one "domain" is exactly the leakage the
# operators exist to prevent. Documented in UrlExprs scaladoc.
PRIVATE = [
    "github.io", "githubusercontent.com", "gitlab.io", "bitbucket.io",
    "blogspot.com", "blogspot.co.uk", "blogspot.de", "blogspot.fr",
    "blogspot.in", "blogspot.com.br", "blogspot.com.au", "blogspot.mx",
    "blogspot.jp", "blogspot.kr", "blogspot.ca", "blogspot.it",
    "wordpress.com", "wixsite.com", "myshopify.com", "neocities.org",
    "netlify.app", "vercel.app", "now.sh", "herokuapp.com",
    "appspot.com", "web.app", "firebaseapp.com", "pages.dev",
    "workers.dev", "glitch.me", "repl.co", "onrender.com", "surge.sh",
    "cloudfront.net", "azurewebsites.net", "azureedge.net",
    "azure-api.net", "s3.amazonaws.com", "elasticbeanstalk.com",
    "dyndns.org", "duckdns.org", "no-ip.com", "no-ip.org", "ngrok.io",
    "pythonanywhere.com", "readthedocs.io", "fly.dev", "deno.dev",
    "translate.goog", "web.core.windows.net", "blob.core.windows.net",
]
PRIVATE_WILD = ["compute.amazonaws.com", "elb.amazonaws.com"]


def curated_rules():
    icann, priv = [], []
    for tld, labels in sorted(CC2.items()):
        for lab in sorted(set(labels.split())):
            icann.append(f"{lab}.{tld}")
    for st in US_STATES:
        for third in ("k12", "cc", "lib"):
            icann.append(f"{third}.{st}.us")
    for st in AU_STATES:
        icann.append(f"{st}.edu.au")
        icann.append(f"{st}.gov.au")
    icann += [f"*.{b}" for b in WILD]
    icann += [f"!{b}" for b in EXC]
    priv += sorted(set(PRIVATE))
    priv += [f"*.{b}" for b in PRIVATE_WILD]
    return sorted(set(icann)), sorted(set(priv))


def from_file_rules(path):
    icann, priv = [], []
    private = False
    for raw in open(path, encoding="utf-8"):
        line = raw.strip()
        if "===BEGIN PRIVATE DOMAINS===" in line:
            private = True
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0]
        core = rule.lstrip("!").lstrip("*.")
        # keep every wildcard/exception; drop single-label normal rules
        # (identical to the default rule)
        if rule[0] in "!*" or "." in core:
            (priv if private else icann).append(rule)
    return sorted(set(icann)), sorted(set(priv))


def main():
    global OUT
    args = sys.argv[1:]
    if "--out" in args:
        i = args.index("--out")
        OUT = args[i + 1]
        del args[i:i + 2]
    if len(args) >= 2 and args[0] == "--from-file":
        icann, priv = from_file_rules(args[1])
        prov = f"regenerated from {os.path.basename(args[1])}"
    else:
        icann, priv = curated_rules()
        prov = "curated offline snapshot (no egress; see scripts/gen_psl.py)"
    with open(OUT, "w", encoding="utf-8") as f:
        f.write("// Public Suffix List snapshot for registrable_host\n")
        f.write(f"// {prov}\n")
        f.write("// format: rule | *.rule | !rule ; single-label normal\n")
        f.write("// rules omitted (they equal the default rule)\n")
        f.write("// === ICANN ===\n")
        for r in icann:
            f.write(r + "\n")
        f.write("// === PRIVATE ===\n")
        for r in priv:
            f.write(r + "\n")
    print(f"wrote {OUT}: {len(icann)} ICANN + {len(priv)} private rules")


if __name__ == "__main__":
    main()
