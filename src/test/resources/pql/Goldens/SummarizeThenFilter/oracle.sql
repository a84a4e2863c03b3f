SELECT State, sum(DamageProperty) AS Damage
FROM StormEvents
GROUP BY State
HAVING sum(DamageProperty) > 10000
ORDER BY Damage DESC NULLS LAST, State ASC NULLS FIRST
