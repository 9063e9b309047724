"""Trained character-n-gram (1+2+3) language identifier.

The stopword-profile heuristic (:func:`text_analysis.lang_id`) was the
one LLM-pipeline operator still at placeholder quality (r8 verdict
#7): distinct-stopword voting breaks on short texts, misses languages
whose function words collide (es/fr share ``de``, ``la``, ``un``) and
cannot see unsegmented scripts at all (zh has no whitespace tokens).
This module ships the TRAINED upgrade with the same mechanism the
engine already uses for learned weights (classifier_score's broadcast
integer-milli table):

- **Model**: multinomial Naive Bayes over character 1+2+3-grams
  (Cavnar & Trenkle 1994, "N-Gram-Based Text Categorization", uses
  1–5-gram profiles; r12 widened this module from trigram-only to the
  1–3 mixture because CJK trigrams from a small embedded corpus are
  too sparse — a kanji-heavy held-out sentence matched ZERO shipped
  trigrams and was decided by OOV priors alone, while single
  characters separate the scripts decisively). Per (gram, lang)
  weight = round(1000·ln((count+1)/(N_lang+V))); per-lang OOV weight
  = round(1000·ln(1/(N_lang+V))). Integer milli-log-probs summed as
  longs → zero float-accumulation-order ambiguity, so a DuckDB
  oracle replays scores bit-for-bit.
- **Training data**: a small embedded corpus of original sentences in
  the ``len(LANGS)`` supported languages (20 since r12 — the r11
  verdict called 5 thin for production curation: now en es fr de zh
  plus pt it nl sv pl tr fi ro id vi ru ja ko ar hi, spanning Latin,
  Cyrillic, CJK, Hangul, Arabic, and Devanagari scripts), authored
  for this module from common public knowledge of each language (no
  external dataset shipped). Training runs deterministically at
  import from these literals — the model IS the source, no binary
  blob.
- **Serving plan (100 TB shape)**: lower + gram explode (map-only
  codegen) → broadcast join on the vocabulary-sized weight table →
  ONE partial-agg'd shuffle on doc_id (pivot over the known language
  codes, so no second exchange for an argmax window) →
  pure-expression argmax with ties to the lexicographically smaller
  code. Docs shorter than 3 chars → ``'und'``.

Reference parity: the reference engine has no text-analysis layer at
all (SURVEY §2.4); this extends the §2.5 LLM-pipeline surface.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Original training sentences per language (authored for this module;
# everyday common-knowledge phrasing, lowercase-insensitive — training
# lowers). Kept to letters/spaces/commas/periods so the SQL-embedded
# weight literals never need quote escaping beyond the apostrophes
# handled in langid_weight_values_sql.
TRAIN_CORPUS: dict[str, list[str]] = {
    "en": [
        "the quick brown fox jumps over the lazy dog near the river bank.",
        "she said that it would be better to wait for the morning train.",
        "most people think the weather has been unusually warm this year.",
        "the children were playing in the garden behind the old house.",
        "he could not remember where he had left the keys to the car.",
        "this is one of the best books i have read in a long time.",
        "they decided to walk home because the bus was running late.",
        "there is nothing more important than the health of your family.",
        "the government announced a new plan to improve public schools.",
        "we should always try to learn something new every single day.",
        "after dinner they watched a film and talked about their plans.",
        "the museum opens early in the morning and closes after sunset.",
        "many students find it difficult to concentrate during summer.",
        "a little knowledge about history can change how you see the world.",
    ],
    "es": [
        "el perro corre por el parque mientras los ninos juegan en la arena.",
        "ella dijo que seria mejor esperar hasta la manana siguiente.",
        "la mayoria de la gente piensa que el tiempo ha sido muy caluroso.",
        "los ninos estaban jugando en el jardin detras de la casa vieja.",
        "no podia recordar donde habia dejado las llaves del coche.",
        "este es uno de los mejores libros que he leido en mucho tiempo.",
        "decidieron caminar a casa porque el autobus llegaba tarde.",
        "no hay nada mas importante que la salud de tu familia.",
        "el gobierno anuncio un nuevo plan para mejorar las escuelas.",
        "siempre debemos intentar aprender algo nuevo cada dia.",
        "despues de cenar vieron una pelicula y hablaron de sus planes.",
        "el museo abre temprano por la manana y cierra al atardecer.",
        "muchos estudiantes tienen dificultades para concentrarse en verano.",
        "un poco de conocimiento de la historia puede cambiar tu vision del mundo.",
    ],
    "fr": [
        "le chien court dans le parc pendant que les enfants jouent dehors.",
        "elle a dit qu il vaudrait mieux attendre le train du matin.",
        "la plupart des gens pensent que le temps a ete tres chaud cette annee.",
        "les enfants jouaient dans le jardin derriere la vieille maison.",
        "il ne se souvenait plus ou il avait laisse les cles de la voiture.",
        "c est un des meilleurs livres que j ai lus depuis longtemps.",
        "ils ont decide de rentrer a pied parce que le bus etait en retard.",
        "il n y a rien de plus important que la sante de votre famille.",
        "le gouvernement a annonce un nouveau plan pour les ecoles publiques.",
        "nous devrions toujours essayer d apprendre quelque chose de nouveau.",
        "apres le diner ils ont regarde un film et parle de leurs projets.",
        "le musee ouvre tot le matin et ferme apres le coucher du soleil.",
        "beaucoup d etudiants ont du mal a se concentrer pendant l ete.",
        "un peu de connaissance de l histoire peut changer votre vision du monde.",
    ],
    "de": [
        "der hund lauft durch den park wahrend die kinder im sand spielen.",
        "sie sagte dass es besser ware auf den zug am morgen zu warten.",
        "die meisten leute denken dass das wetter dieses jahr sehr warm war.",
        "die kinder spielten im garten hinter dem alten haus.",
        "er konnte sich nicht erinnern wo er die schlussel gelassen hatte.",
        "das ist eines der besten bucher die ich seit langem gelesen habe.",
        "sie beschlossen zu fuss nach hause zu gehen weil der bus zu spat kam.",
        "es gibt nichts wichtigeres als die gesundheit deiner familie.",
        "die regierung kundigte einen neuen plan fur die schulen an.",
        "wir sollten immer versuchen jeden tag etwas neues zu lernen.",
        "nach dem abendessen sahen sie einen film und sprachen uber ihre plane.",
        "das museum offnet fruh am morgen und schliesst nach sonnenuntergang.",
        "viele studenten finden es schwer sich im sommer zu konzentrieren.",
        "ein wenig wissen uber geschichte kann deine sicht auf die welt andern.",
    ],
    "zh": [
        "狗在公园里跑，孩子们在沙地上玩耍。",
        "她说最好等到明天早上再出发。",
        "大多数人认为今年的天气特别热。",
        "孩子们在老房子后面的花园里玩。",
        "他不记得把车钥匙放在哪里了。",
        "这是我很久以来读过的最好的书之一。",
        "他们决定走路回家，因为公共汽车来晚了。",
        "没有什么比家人的健康更重要。",
        "政府宣布了一项改善公立学校的新计划。",
        "我们应该每天都努力学习新的东西。",
        "晚饭后他们看了一部电影，谈论了他们的计划。",
        "博物馆早上很早开门，日落后关门。",
        "很多学生觉得夏天很难集中注意力。",
        "一点历史知识可以改变你看世界的方式。",
    ],
    # r12 breadth extension — same parallel everyday themes; natural
    # orthography WITH diacritics (diacritics are among the most
    # discriminative trigram features between related Latin-script
    # languages, and the held-out tests use the same conventions)
    "pt": [
        "o cachorro corre pelo parque enquanto as crianças brincam na areia.",
        "ela disse que seria melhor esperar até a manhã seguinte.",
        "a maioria das pessoas acha que o tempo está muito quente este ano.",
        "as crianças estavam brincando no jardim atrás da casa velha.",
        "ele não conseguia lembrar onde tinha deixado as chaves do carro.",
        "este é um dos melhores livros que li em muito tempo.",
        "decidiram voltar para casa a pé porque o ônibus estava atrasado.",
        "não há nada mais importante do que a saúde da sua família.",
        "o governo anunciou um novo plano para melhorar as escolas públicas.",
        "devemos sempre tentar aprender algo novo todos os dias.",
        "depois do jantar assistiram a um filme e falaram dos seus planos.",
        "o museu abre cedo de manhã e fecha depois do pôr do sol.",
        "você precisa falar com o professor antes da aula de amanhã.",
        "a informação mais importante está na primeira página do documento.",
        "não sei se as reuniões desta semana foram canceladas ou não.",
    ],
    "it": [
        "il cane corre nel parco mentre i bambini giocano nella sabbia.",
        "lei ha detto che sarebbe meglio aspettare fino a domani mattina.",
        "la maggior parte della gente pensa che il tempo sia molto caldo.",
        "i bambini giocavano nel giardino dietro la vecchia casa.",
        "non riusciva a ricordare dove avesse lasciato le chiavi della macchina.",
        "questo è uno dei migliori libri che ho letto da molto tempo.",
        "hanno deciso di tornare a casa a piedi perché l autobus era in ritardo.",
        "non c è niente di più importante della salute della tua famiglia.",
        "il governo ha annunciato un nuovo piano per migliorare le scuole.",
        "dovremmo sempre cercare di imparare qualcosa di nuovo ogni giorno.",
        "dopo cena hanno guardato un film e parlato dei loro progetti.",
        "il museo apre presto la mattina e chiude dopo il tramonto.",
    ],
    "nl": [
        "de hond rent door het park terwijl de kinderen in het zand spelen.",
        "ze zei dat het beter zou zijn om tot morgenochtend te wachten.",
        "de meeste mensen vinden dat het weer dit jaar erg warm is geweest.",
        "de kinderen speelden in de tuin achter het oude huis.",
        "hij kon zich niet herinneren waar hij de autosleutels had gelaten.",
        "dit is een van de beste boeken die ik in lange tijd heb gelezen.",
        "ze besloten naar huis te lopen omdat de bus te laat was.",
        "er is niets belangrijker dan de gezondheid van je familie.",
        "de regering kondigde een nieuw plan aan om de scholen te verbeteren.",
        "we moeten altijd proberen elke dag iets nieuws te leren.",
        "na het eten keken ze een film en praatten over hun plannen.",
        "het museum gaat vroeg open en sluit na zonsondergang.",
    ],
    "sv": [
        "hunden springer genom parken medan barnen leker i sanden.",
        "hon sa att det vore bättre att vänta till i morgon bitti.",
        "de flesta tycker att vädret har varit ovanligt varmt i år.",
        "barnen lekte i trädgården bakom det gamla huset.",
        "han kunde inte minnas var han hade lagt bilnycklarna.",
        "det här är en av de bästa böcker jag läst på länge.",
        "de bestämde sig för att gå hem eftersom bussen var försenad.",
        "ingenting är viktigare än familjens hälsa.",
        "regeringen presenterade en ny plan för att förbättra skolorna.",
        "vi borde alltid försöka lära oss något nytt varje dag.",
        "efter middagen såg de en film och pratade om sina planer.",
        "museet öppnar tidigt på morgonen och stänger efter solnedgången.",
    ],
    "pl": [
        "pies biega po parku podczas gdy dzieci bawią się w piasku.",
        "powiedziała że lepiej byłoby poczekać do jutra rana.",
        "większość ludzi uważa że pogoda w tym roku jest bardzo ciepła.",
        "dzieci bawiły się w ogrodzie za starym domem.",
        "nie mógł sobie przypomnieć gdzie zostawił kluczyki do samochodu.",
        "to jedna z najlepszych książek jakie czytałem od dawna.",
        "postanowili wrócić do domu pieszo bo autobus się spóźniał.",
        "nie ma nic ważniejszego niż zdrowie twojej rodziny.",
        "rząd ogłosił nowy plan poprawy szkół publicznych.",
        "powinniśmy zawsze starać się uczyć czegoś nowego każdego dnia.",
        "po kolacji obejrzeli film i rozmawiali o swoich planach.",
        "muzeum otwiera się wcześnie rano i zamyka po zachodzie słońca.",
    ],
    "tr": [
        "köpek parkta koşarken çocuklar kumda oynuyor.",
        "yarın sabaha kadar beklemenin daha iyi olacağını söyledi.",
        "çoğu insan bu yıl havanın çok sıcak olduğunu düşünüyor.",
        "çocuklar eski evin arkasındaki bahçede oynuyordu.",
        "araba anahtarlarını nereye bıraktığını hatırlayamadı.",
        "bu uzun zamandır okuduğum en iyi kitaplardan biri.",
        "otobüs geciktiği için eve yürüyerek dönmeye karar verdiler.",
        "ailenin sağlığından daha önemli bir şey yoktur.",
        "hükümet okulları iyileştirmek için yeni bir plan açıkladı.",
        "her gün yeni bir şey öğrenmeye çalışmalıyız.",
        "akşam yemeğinden sonra film izlediler ve planlarını konuştular.",
        "müze sabah erken açılır ve gün batımından sonra kapanır.",
    ],
    "fi": [
        "koira juoksee puistossa kun lapset leikkivät hiekassa.",
        "hän sanoi että olisi parempi odottaa huomisaamuun.",
        "useimmat ihmiset ajattelevat että sää on ollut hyvin lämmin tänä vuonna.",
        "lapset leikkivät puutarhassa vanhan talon takana.",
        "hän ei muistanut minne oli jättänyt auton avaimet.",
        "tämä on yksi parhaista kirjoista jonka olen lukenut pitkään aikaan.",
        "he päättivät kävellä kotiin koska bussi oli myöhässä.",
        "mikään ei ole tärkeämpää kuin perheen terveys.",
        "hallitus ilmoitti uudesta suunnitelmasta koulujen parantamiseksi.",
        "meidän pitäisi aina yrittää oppia jotain uutta joka päivä.",
        "illallisen jälkeen he katsoivat elokuvan ja puhuivat suunnitelmistaan.",
        "museo avautuu aikaisin aamulla ja sulkeutuu auringonlaskun jälkeen.",
    ],
    "ro": [
        "câinele aleargă prin parc în timp ce copiii se joacă în nisip.",
        "ea a spus că ar fi mai bine să așteptăm până mâine dimineață.",
        "majoritatea oamenilor cred că vremea a fost foarte caldă anul acesta.",
        "copiii se jucau în grădina din spatele casei vechi.",
        "nu își putea aminti unde a lăsat cheile mașinii.",
        "aceasta este una dintre cele mai bune cărți pe care le am citit.",
        "au decis să meargă acasă pe jos pentru că autobuzul întârzia.",
        "nimic nu este mai important decât sănătatea familiei tale.",
        "guvernul a anunțat un nou plan pentru îmbunătățirea școlilor.",
        "ar trebui să încercăm mereu să învățăm ceva nou în fiecare zi.",
        "după cină au văzut un film și au vorbit despre planurile lor.",
        "muzeul se deschide devreme dimineața și se închide după apus.",
    ],
    "id": [
        "anjing itu berlari di taman sementara anak anak bermain di pasir.",
        "dia berkata lebih baik menunggu sampai besok pagi.",
        "kebanyakan orang berpikir cuaca tahun ini sangat panas.",
        "anak anak sedang bermain di kebun di belakang rumah tua itu.",
        "dia tidak ingat di mana dia meninggalkan kunci mobilnya.",
        "ini salah satu buku terbaik yang pernah saya baca sejak lama.",
        "mereka memutuskan berjalan pulang karena bus datang terlambat.",
        "tidak ada yang lebih penting daripada kesehatan keluarga anda.",
        "pemerintah mengumumkan rencana baru untuk memperbaiki sekolah.",
        "kita harus selalu berusaha belajar sesuatu yang baru setiap hari.",
        "setelah makan malam mereka menonton film dan membicarakan rencana.",
        "museum buka pagi pagi sekali dan tutup setelah matahari terbenam.",
    ],
    "vi": [
        "con chó chạy trong công viên trong khi bọn trẻ chơi trên cát.",
        "cô ấy nói rằng tốt hơn là nên đợi đến sáng mai.",
        "hầu hết mọi người nghĩ rằng thời tiết năm nay rất nóng.",
        "bọn trẻ đang chơi trong vườn phía sau ngôi nhà cũ.",
        "anh ấy không nhớ đã để chìa khóa xe ở đâu.",
        "đây là một trong những cuốn sách hay nhất tôi đã đọc từ lâu.",
        "họ quyết định đi bộ về nhà vì xe buýt đến muộn.",
        "không có gì quan trọng hơn sức khỏe của gia đình bạn.",
        "chính phủ công bố kế hoạch mới để cải thiện trường học.",
        "chúng ta nên luôn cố gắng học điều gì đó mới mỗi ngày.",
        "sau bữa tối họ xem một bộ phim và nói về kế hoạch của mình.",
        "bảo tàng mở cửa sớm vào buổi sáng và đóng cửa sau hoàng hôn.",
    ],
    "ru": [
        "собака бегает по парку пока дети играют в песке.",
        "она сказала что лучше подождать до завтрашнего утра.",
        "большинство людей считает что погода в этом году очень тёплая.",
        "дети играли в саду за старым домом.",
        "он не мог вспомнить где оставил ключи от машины.",
        "это одна из лучших книг которые я читал за долгое время.",
        "они решили пойти домой пешком потому что автобус опаздывал.",
        "нет ничего важнее здоровья твоей семьи.",
        "правительство объявило новый план улучшения школ.",
        "мы должны каждый день стараться узнавать что то новое.",
        "после ужина они посмотрели фильм и поговорили о планах.",
        "музей открывается рано утром и закрывается после заката.",
    ],
    "ja": [
        "犬が公園を走り、子供たちは砂場で遊んでいる。",
        "彼女は明日の朝まで待ったほうがいいと言った。",
        "ほとんどの人は今年の天気がとても暑いと思っている。",
        "子供たちは古い家の裏の庭で遊んでいた。",
        "彼は車の鍵をどこに置いたか思い出せなかった。",
        "これは久しぶりに読んだ中で最高の本の一つだ。",
        "バスが遅れたので歩いて帰ることにした。",
        "家族の健康より大切なものはない。",
        "政府は学校を改善する新しい計画を発表した。",
        "私たちは毎日新しいことを学ぶように努力すべきだ。",
        "夕食の後、映画を見て計画について話した。",
        "博物館は朝早く開き、日没後に閉まる。",
        "駅までの道を教えてもらえますか。",
        "来週の会議の資料を準備してください。",
        "彼は毎朝早く起きて新聞を読みたいと言っている。",
    ],
    "ko": [
        "개가 공원에서 뛰어다니고 아이들은 모래밭에서 놀고 있다.",
        "그녀는 내일 아침까지 기다리는 것이 낫다고 말했다.",
        "대부분의 사람들은 올해 날씨가 매우 덥다고 생각한다.",
        "아이들은 오래된 집 뒤의 정원에서 놀고 있었다.",
        "그는 자동차 열쇠를 어디에 두었는지 기억하지 못했다.",
        "이것은 오랜만에 읽은 최고의 책 중 하나이다.",
        "버스가 늦어서 그들은 걸어서 집에 가기로 했다.",
        "가족의 건강보다 중요한 것은 없다.",
        "정부는 학교를 개선하기 위한 새로운 계획을 발표했다.",
        "우리는 매일 새로운 것을 배우려고 노력해야 한다.",
        "저녁 식사 후 그들은 영화를 보고 계획에 대해 이야기했다.",
        "박물관은 아침 일찍 열고 해가 진 후에 닫는다.",
    ],
    "ar": [
        "يركض الكلب في الحديقة بينما يلعب الأطفال في الرمال.",
        "قالت إنه من الأفضل الانتظار حتى صباح الغد.",
        "يعتقد معظم الناس أن الطقس كان حارا جدا هذا العام.",
        "كان الأطفال يلعبون في الحديقة خلف المنزل القديم.",
        "لم يستطع أن يتذكر أين ترك مفاتيح السيارة.",
        "هذا واحد من أفضل الكتب التي قرأتها منذ وقت طويل.",
        "قرروا العودة إلى المنزل سيرا لأن الحافلة تأخرت.",
        "لا شيء أهم من صحة عائلتك.",
        "أعلنت الحكومة عن خطة جديدة لتحسين المدارس.",
        "يجب أن نحاول دائما تعلم شيء جديد كل يوم.",
        "بعد العشاء شاهدوا فيلما وتحدثوا عن خططهم.",
        "يفتح المتحف مبكرا في الصباح ويغلق بعد غروب الشمس.",
    ],
    "hi": [
        "कुत्ता पार्क में दौड़ता है जबकि बच्चे रेत में खेलते हैं।",
        "उसने कहा कि कल सुबह तक इंतजार करना बेहतर होगा।",
        "ज्यादातर लोग सोचते हैं कि इस साल मौसम बहुत गर्म रहा है।",
        "बच्चे पुराने घर के पीछे बगीचे में खेल रहे थे।",
        "उसे याद नहीं आया कि उसने गाड़ी की चाबियां कहां छोड़ी थीं।",
        "यह लंबे समय में पढ़ी गई सबसे अच्छी किताबों में से एक है।",
        "बस देर से आने के कारण उन्होंने पैदल घर जाने का फैसला किया।",
        "परिवार के स्वास्थ्य से ज्यादा महत्वपूर्ण कुछ नहीं है।",
        "सरकार ने स्कूलों को बेहतर बनाने की नई योजना की घोषणा की।",
        "हमें हर दिन कुछ नया सीखने की कोशिश करनी चाहिए।",
        "रात के खाने के बाद उन्होंने फिल्म देखी और अपनी योजनाओं पर बात की।",
        "संग्रहालय सुबह जल्दी खुलता है और सूर्यास्त के बाद बंद होता है।",
    ],
}

LANGS = sorted(TRAIN_CORPUS)  # 20 codes: ar de en es fi fr hi id it ja ko nl pl pt ro ru sv tr vi zh

# cap the shipped vocabulary per language (top-N grams by count,
# ties → lexicographically smaller gram) so the broadcast table and
# the oracle's VALUES literal stay bounded whatever the corpus grows to
TOP_PER_LANG = 400


def _grams(s: str) -> list[str]:
    """All character 1-, 2-, and 3-grams of the lowered text; empty
    for texts shorter than 3 chars (the 'und' contract — unchanged
    from the trigram-only model)."""
    s = s.lower()
    if len(s) < 3:
        return []
    return [
        s[i : i + n] for n in (1, 2, 3) for i in range(len(s) - n + 1)
    ]


@lru_cache(maxsize=1)
def train_trigram_weights(
    top_per_lang: int = TOP_PER_LANG,
) -> tuple[tuple[tuple[str, str, int], ...], tuple[tuple[str, int], ...]]:
    """Deterministic training: returns (weights, oov) where weights =
    ((gram, lang, w_milli), ...) sorted by (lang, gram) and oov =
    ((lang, oov_milli), ...). w_milli = round(1000·ln((c+1)/(N+V))),
    oov_milli = round(1000·ln(1/(N+V))) with N = the language's kept
    gram mass and V = the shipped table's distinct gram count (the
    Laplace vocabulary)."""
    counts: dict[str, Counter] = {}
    for lang, sents in TRAIN_CORPUS.items():
        c: Counter = Counter()
        for s in sents:
            c.update(_grams(s))
        counts[lang] = c
    kept: dict[str, list[tuple[str, int]]] = {
        lang: sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_per_lang]
        for lang, c in counts.items()
    }
    vocab = {g for rows in kept.values() for g, _ in rows}
    v = len(vocab)
    weights: list[tuple[str, str, int]] = []
    oov: list[tuple[str, int]] = []
    for lang in LANGS:
        n = sum(cnt for _, cnt in kept[lang])
        denom = n + v
        for g, cnt in sorted(kept[lang]):
            weights.append((g, lang, round(1000 * math.log((cnt + 1) / denom))))
        oov.append((lang, round(1000 * math.log(1 / denom))))
    return tuple(weights), tuple(oov)


def langid_weights_df(spark: SparkSession) -> DataFrame:
    w, _ = train_trigram_weights()
    return spark.createDataFrame(list(w), "gram string, lang string, wm long")


def _grams_col(c: Column) -> Column:
    # split-once + element_at, NOT substring(c, i, k): UTF8String
    # substring walks from the string head (char offsets ≠ byte
    # offsets), so per-position substrings make gram extraction
    # O(n_chars²) per doc — measured 63 s for 50k docs at sf1;
    # the char-array form is O(n_chars) and semantically identical
    # (split('', '') is per-character, same unicode units substring
    # counts). Guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) rather
    # than returning empty, so sub-3-char docs would grow phantom
    # grams without the WHEN (CASE branches evaluate lazily per row,
    # so the guarded branch never runs the descending sequence).
    ln = F.length(c)
    chars = F.split(c, "")
    g1 = F.transform(
        F.sequence(F.lit(1), ln), lambda i: F.element_at(chars, i)
    )
    g2 = F.transform(
        F.sequence(F.lit(1), ln - 1),
        lambda i: F.concat(F.element_at(chars, i), F.element_at(chars, i + 1)),
    )
    g3 = F.transform(
        F.sequence(F.lit(1), ln - 2),
        lambda i: F.concat(
            F.element_at(chars, i),
            F.element_at(chars, i + 1),
            F.element_at(chars, i + 2),
        ),
    )
    return F.when(ln < 3, F.array().cast("array<string>")).otherwise(
        F.concat(g1, g2, g3)
    )


@lru_cache(maxsize=1)
def _weight_lut() -> tuple[dict, "object"]:
    """gram → int64[|LANGS|] milli-weight vector (OOV weights filled
    in for languages that didn't keep the gram), plus the all-OOV
    vector for unseen grams. Derived deterministically from the module
    constants, so every executor rebuilds the identical table — no
    broadcast needed."""
    import numpy as np

    weights, oov = train_trigram_weights()
    oov_m = dict(oov)
    oov_vec = np.array([oov_m[lang] for lang in LANGS], dtype=np.int64)
    lut: dict[str, object] = {}
    idx = {lang: i for i, lang in enumerate(LANGS)}
    for g, lang, wm in weights:
        v = lut.get(g)
        if v is None:
            v = oov_vec.copy()
            lut[g] = v
        v[idx[lang]] = wm
    return lut, oov_vec


def _score_text(t, lut, oov_vec) -> tuple[int, int, int]:
    """The shared model-inference kernel for BOTH Arrow passes
    (`_lang_id_trained_arrow` and `lang_id_annotate` must agree
    verdict-for-verdict — one kernel, no drift): Python str.lower,
    char 1+2+3-gram counts, int64 milli-log-prob accumulation, FIRST
    index on argmax ties. Returns (n_grams, best_lang_index,
    best_milli) with n_grams = 3·len − 3 (the total gram occurrence
    count); (0, -1, 0) for docs shorter than 3 chars.

    Locale note: str.lower() is locale-independent (Unicode default
    case mapping). Spark 4's F.lower is too — UTF8String.toLowerCase
    routes non-ASCII through ICU UCharacter (root case mapping;
    verified against the bundled spark-unsafe 4.1.2 jar, which
    references com/ibm/icu/lang/UCharacter, not the JVM-default-locale
    String.toLowerCase that Spark 3 used) — so the arrow/expr/oracle
    parity does not depend on the process locale on this Spark."""
    from collections import Counter

    import numpy as np

    s = ("" if t is None else str(t)).lower()
    if len(s) < 3:
        return 0, -1, 0
    n = 3 * len(s) - 3
    acc = np.zeros(len(LANGS), dtype=np.int64)
    grams = Counter(
        s[i : i + k] for k in (1, 2, 3) for i in range(len(s) - k + 1)
    )
    for g, cnt in grams.items():
        acc += cnt * lut.get(g, oov_vec)
    a = int(acc.argmax())
    return n, a, int(acc[a])


def lang_id_trained(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "arrow",
) -> DataFrame:
    """(doc_id, n_grams, lang, best_milli): trained 1+2+3-gram-NB
    language id. Per-doc score for language L = Σ over the doc's gram
    occurrences of (weight(g, L) if (g, L) is in the trained table
    else oov_L), all long arithmetic; lang = argmax, ties →
    lexicographically smaller code; n_grams = 3·len − 3 (total gram
    occurrences), docs under 3 chars → n_grams = 0 → 'und' with
    best_milli 0.

    ``impl='arrow'`` (default): ONE mapInPandas pass — Python slicing
    + a per-executor int64 weight LUT rebuilt from the module
    constants (no broadcast, no shuffle, map-only). In the expression
    twin below, trigram extraction via ``transform``/``concat`` is an
    interpreted higher-order function (no codegen), measured 63 s for
    50k sf1 docs vs ~2 s for this pass; the integer score arithmetic is
    order-free, so both paths are bit-identical (tested equal, and
    the SQL oracle replays the same sums).

    ``impl='expr'``: the pure-expression parity witness — trigram
    explode → broadcast join on the ≤|LANGS|·400 row weight table →
    one partial-agg'd pivot shuffle → expression argmax.
    """
    if impl == "arrow":
        return _lang_id_trained_arrow(df, text_col, id_col)
    if impl != "expr":
        raise ValueError(f"impl must be arrow|expr, got {impl!r}")
    from .similarity import ensure_parallelism

    spark = df.sparkSession
    weights, oov = train_trigram_weights()
    wdf = F.broadcast(langid_weights_df(spark))
    c = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    # a single-file corpus scans as 1-2 splits, which would run the
    # n_chars-per-doc trigram explode + pivot partial-agg on 1-2 tasks
    # (measured: sf10 decade leg sat at ~0.3 cores before this);
    # round-robin to the session's parallelism first — no-op when the
    # scan is already split
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.when(F.length(c) >= 3, F.length(c) * 3 - 3)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_n"),
        _grams_col(c).alias("_grams"),
    )
    exploded = base.select(
        "doc_id", "_n", F.explode("_grams").alias("gram")
    ).join(wdf, "gram", "left")
    pivoted = (
        exploded.groupBy("doc_id", "_n")
        .pivot("lang", LANGS)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("wm").alias("ws"),
        )
    )
    oov_m = dict(oov)
    scores = {
        lang: (
            F.coalesce(F.col(f"{lang}_ws"), F.lit(0)).cast("long")
            + (F.col("_n") - F.coalesce(F.col(f"{lang}_cnt"), F.lit(0)))
            * F.lit(oov_m[lang])
        )
        for lang in LANGS
    }
    best = F.greatest(*scores.values())
    pick = F.lit("und")
    for lang in reversed(LANGS):  # earlier codes win ties
        pick = F.when(scores[lang] == best, F.lit(lang)).otherwise(pick)
    # docs with no trigrams never explode a row — restore them as 'und'
    scored = pivoted.select(
        "doc_id",
        F.col("_n").alias("n_grams"),
        pick.alias("lang"),
        best.alias("best_milli"),
    )
    missing = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(0).cast("long").alias("n_grams"),
            F.lit("und").alias("lang"),
            F.lit(0).cast("long").alias("best_milli"),
        )
    )
    return scored.unionByName(missing)


def _lang_id_trained_arrow(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """The Arrow one-pass scorer: per doc, Counter the trigrams of the
    lowered text, accumulate the int64 weight vectors (OOV vector for
    unseen grams), argmax with first-index ties (LANGS is sorted, so
    first max IS the lexicographically smaller code)."""
    from .similarity import ensure_parallelism

    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    # derive the id field's type instead of hard-coding long, so a
    # string/int id column round-trips instead of failing Arrow
    # coercion (the kmv_distinct schema-derivation pattern)
    id_type = base.schema["doc_id"].dataType.simpleString()

    def score(batches):
        import numpy as np
        import pandas as pd

        lut, oov_vec = _weight_lut()
        for pdf in batches:
            ids = pdf["doc_id"]
            n_out = np.zeros(len(pdf), dtype=np.int64)
            best = np.zeros(len(pdf), dtype=np.int64)
            langs = []
            for j, t in enumerate(pdf["_t"]):
                n, a, bm = _score_text(t, lut, oov_vec)
                if a < 0:
                    langs.append("und")
                    continue
                n_out[j] = n
                best[j] = bm
                langs.append(LANGS[a])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_grams": n_out,
                    "lang": langs,
                    "best_milli": best,
                }
            )

    return base.mapInPandas(
        score, f"doc_id {id_type}, n_grams long, lang string, best_milli long"
    )


def lang_id_annotate(
    df: DataFrame, text_col: str = "text", out_col: str = "lang"
) -> DataFrame:
    """Append ``out_col`` (the trained-model language code) to the
    frame IN PLACE — one mapInPandas pass carrying every input column
    through, no join, no shuffle. This is the processor/streaming
    shape: annotating a stream via ``lang_id_trained`` + self-join
    would be a stream-stream join (watermark state for no reason);
    this stays map-only in both batch and streaming. An existing
    ``out_col`` column (the documents table carries a generator
    ``lang`` label) is REPLACED by the model's verdict."""
    import pyspark.sql.types as T

    if out_col in df.columns:
        df = df.drop(out_col)
    schema = T.StructType(
        list(df.schema) + [T.StructField(out_col, T.StringType())]
    )

    def annotate(batches):
        lut, oov_vec = _weight_lut()
        for pdf in batches:
            langs = []
            for t in pdf[text_col]:
                _, a, _ = _score_text(t, lut, oov_vec)
                langs.append("und" if a < 0 else LANGS[a])
            out = pdf.copy()
            out[out_col] = langs
            yield out

    from .similarity import ensure_parallelism

    # fan out below the scorer (r15 opt): a 1-split input would run
    # the trigram scoring on one task; no-op at scale and on streams
    return ensure_parallelism(df).mapInPandas(annotate, schema)


def langid_weight_values_sql() -> str:
    """The trained table as a DuckDB VALUES literal (gram, lang, wm) —
    the oracle embeds the SAME model the engine broadcasts."""
    w, _ = train_trigram_weights()
    rows = ", ".join(
        "('" + g.replace("'", "''") + f"', '{lang}', {wm})" for g, lang, wm in w
    )
    return f"(VALUES {rows}) AS w(gram, lang, wm)"


def langid_oov_sql() -> dict[str, int]:
    _, oov = train_trigram_weights()
    return dict(oov)
